package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSuite

/** Iceberg v1 table format without the runtime (sources/IcebergLite):
  * snapshot roundtrips, time travel, manifest-driven reads (orphan
  * files invisible), partition recovery, schema contract. */
class IcebergLiteSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_iceberg").toString + "/t"

  private val batch1 = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
  private val batch2 = Seq((4L, "fr", 40L), (5L, "en", 50L))

  test("create + read roundtrip (unpartitioned)") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(back == batch1.toSet)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L))
  }

  test("appends accumulate; time travel reads an old snapshot") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 2L))
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    assert(IcebergLite.readTable(spark, dir, Some(1L))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("reads follow manifests, not directory listings") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    // plant an orphan parquet file in the data dir (a failed writer's
    // leftovers); a manifest-driven read must not see it
    batch2.toDF("id", "lang", "n").write.mode("append")
      .parquet(dir + "/data/s1")
    assert(IcebergLite.readTable(spark, dir).count() == 3L)
  }

  test("identity-partitioned tables recover partition columns per snapshot") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    val back = IcebergLite.readTable(spark, dir)
    assert(back.columns.toSet == Set("id", "lang", "n"))
    assert(back.filter(col("lang") === "en").count() == 3L)
    assert(back.count() == 5L)
  }

  test("schema and partitioning are contracts: mismatched appends refuse") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    val exPart = intercept[IllegalArgumentException](
      IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir))
    assert(exPart.getMessage.contains("partition"))
    val exSchema = intercept[IllegalArgumentException](
      IcebergLite.appendSnapshot(spark,
        batch2.toDF("id", "lang", "n")
          .withColumn("extra", lit(1)), dir, partitionBy = Seq("lang")))
    assert(exSchema.getMessage.contains("schema"))
  }

  test("declared schema reads from metadata, typed per the spec mapping") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, "x", 1.5, true)).toDF("id", "s", "d", "b"), dir)
    val sch = IcebergLite.tableSchema(spark, dir)
    assert(sch.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "s" -> "string", "d" -> "double",
        "b" -> "boolean"))
  }

  test("nested map/array columns roundtrip with field-id schemas") {
    val dir = tmp()
    val df = Seq(
      (1L, Map("a" -> "x", "b" -> "y"), Seq(1L, 2L)),
      (2L, Map.empty[String, String], Seq.empty[Long]))
      .toDF("id", "attrs", "vals")
    IcebergLite.createTable(spark, df, dir)
    val back = IcebergLite.readTable(spark, dir)
    assert(back.filter(col("id") === 1L)
      .select(element_at(col("attrs"), "b"), size(col("vals")))
      .head().toSeq == Seq("y", 2))
    val sch = IcebergLite.tableSchema(spark, dir)
    assert(sch("attrs").dataType.simpleString == "map<string,string>")
    assert(sch("vals").dataType.simpleString == "array<bigint>")
  }

  test("deleteWhere rewrites only affected files; time travel keeps history") {
    val dir = tmp()
    // two snapshots -> multiple files; delete hits snapshot 1 only
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    def liveFiles(): Set[String] = {
      import org.apache.spark.sql.functions.input_file_name
      IcebergLite.readTable(spark, dir)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
    }
    val before = liveFiles()
    val deleted = IcebergLite.deleteWhere(spark, dir, col("id") === 2L)
    assert(deleted == 1L)
    val back = IcebergLite.readTable(spark, dir)
    assert(back.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 5L))
    // untouched files carried by REFERENCE: every file not containing
    // id=2 keeps its exact path in the new snapshot
    val after = liveFiles()
    val untouchedBefore = before.filter(_.contains("lang=fr")) // batch2 fr file
    assert(untouchedBefore.subsetOf(after))
    // the de-partitioned 'de' file (id=2) was rewritten away
    assert(back.filter(col("lang") === "de").count() == 0L)
    // prior snapshots still see the full data
    assert(IcebergLite.readTable(spark, dir, Some(2L)).count() == 5L)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 2L, 3L))
    // no match -> no-op, no new snapshot
    assert(IcebergLite.deleteWhere(spark, dir, col("id") === 999L) == 0L)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 2L, 3L))
  }

  test("a zero-match deleteWhere after a SQL DELETE commits nothing") {
    val dir = tmp()
    IcebergLite.createTable(spark, (batch1 ++ batch2).toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    graft.Catalog.registerIcebergTable(spark, "ils_zero_match", dir)
    // the SQL DELETE leaves a position delete naming a live file
    assert(spark.sql("DELETE FROM ils_zero_match WHERE id = 3")
      .head().getLong(0) == 1L)
    val snaps = IcebergLite.snapshotIds(spark, dir)
    def rows() = IcebergLite.readTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val before = rows()
    assert(IcebergLite.deleteWhere(spark, dir, col("n") < 0L) == 0L)
    // no rewrite of the file the delete names: no snapshot at all
    assert(IcebergLite.snapshotIds(spark, dir) == snaps)
    assert(rows() == before && before.size == 4)
  }

  test("compact folds accumulated snapshots into one, content-preserving") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "de", 60L)).toDF("id", "lang", "n"), dir)
    val before = IcebergLite.readTable(spark, dir)
      .collect().map(_.toSeq).toSet
    IcebergLite.compact(spark, dir)
    val after = IcebergLite.readTable(spark, dir)
    assert(after.collect().map(_.toSeq).toSet == before)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 2L, 3L, 4L))
    // pre-compaction snapshots still read
    assert(IcebergLite.readTable(spark, dir, Some(2L)).count() == 5L)
  }

  test("expireSnapshots purges history physically; current keeps reading") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhere(spark, dir, col("id") === 2L)
    def dataFiles(): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .forEach(p => if (p.toString.endsWith(".parquet")) out += p.toString)
      out.toSet
    }
    val before = dataFiles()
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(3L))
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 5L))
    // time travel to expired history is gone
    intercept[RuntimeException](
      IcebergLite.readTable(spark, dir, Some(1L)))
    // the file containing the deleted row was physically purged
    val after = dataFiles()
    assert(after.subsetOf(before) && after.size < before.size)
    // every surviving file is still referenced (reads don't break)
    assert(IcebergLite.readTable(spark, dir).count() == 4L)
  }

  test("foreachBatch sink is exactly-once across batch replays") {
    val dir = tmp()
    val sink = IcebergLite.sink(dir)
    sink(batch1.toDF("id", "lang", "n"), 0L)
    sink(batch2.toDF("id", "lang", "n"), 1L)
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    // checkpoint replay of batch 1: the commit key is already in the
    // snapshot log -> no-op
    sink(batch2.toDF("id", "lang", "n"), 1L)
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 2L))
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    // a NEW batch still lands
    sink(Seq((9L, "zh", 90L)).toDF("id", "lang", "n"), 2L)
    assert(IcebergLite.readTable(spark, dir).count() == 6L)
  }

  test("sink drives a real streaming query end to end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp()
    val stream = MemoryStream[(Long, String, Long)](spark)
    stream.addData((1L, "en", 10L), (2L, "de", 20L))
    stream.addData((3L, "fr", 30L))
    val q = stream.toDF().toDF("id", "lang", "n")
      .writeStream
      .foreachBatch(IcebergLite.sink(dir))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("schema evolution: add/rename/widen read old files by field id") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    // evolve: add a column, rename one, widen n int-family → stays long
    IcebergLite.addColumn(spark, dir, "score", org.apache.spark.sql.types.LongType)
    IcebergLite.renameColumn(spark, dir, "lang", "language")
    assert(IcebergLite.tableSchema(spark, dir).fieldNames.toSeq ==
      Seq("id", "language", "n", "score"))
    // old snapshot reads THROUGH the new schema: renamed column resolves
    // by id, added column reads NULL
    val s1 = IcebergLite.readTable(spark, dir, Some(1L))
    assert(s1.columns.toSeq == Seq("id", "language", "n", "score"))
    assert(s1.filter(col("language") === "en").count() == 2L)
    assert(s1.filter(col("score").isNotNull).count() == 0L)
    // appends must come in the NEW shape and coexist with old files
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "it", 60L, 7L)).toDF("id", "language", "n", "score"), dir)
    val all = IcebergLite.readTable(spark, dir)
    assert(all.count() == 4L)
    assert(all.filter(col("score").isNotNull)
      .collect().map(_.getLong(0)).toSeq == Seq(6L))
    // an old-shape append now refuses
    val ex = intercept[IllegalArgumentException](
      IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir))
    assert(ex.getMessage.contains("differs from the table schema"))
  }

  test("schema evolution: widening promotes int→long; illegal refuses") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    IcebergLite.widenColumn(spark, dir, "k", org.apache.spark.sql.types.LongType)
    val back = IcebergLite.readTable(spark, dir)
    assert(back.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    IcebergLite.appendSnapshot(spark,
      Seq((3L, "c")).toDF("k", "v"), dir)
    assert(IcebergLite.readTable(spark, dir).count() == 3L)
    val ex = intercept[IllegalArgumentException](
      IcebergLite.widenColumn(spark, dir, "v",
        org.apache.spark.sql.types.LongType))
    assert(ex.getMessage.contains("illegal type promotion"))
  }

  test("schema evolution survives deleteWhere and compact (carried manifests)") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.renameColumn(spark, dir, "n", "weight")
    IcebergLite.appendSnapshot(spark,
      batch2.toDF("id", "lang", "weight"), dir)
    // delete from the NEW-schema file only: old-schema file must carry
    // over as EXISTING with its own write-schema mapping intact
    val nDel = IcebergLite.deleteWhere(spark, dir, col("id") === 4L)
    assert(nDel == 1L)
    val afterDel = IcebergLite.readTable(spark, dir)
    assert(afterDel.columns.toSeq == Seq("id", "lang", "weight"))
    assert(afterDel.select("weight").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(10L, 20L, 30L, 50L))
    // compact rewrites everything into the current schema
    IcebergLite.compact(spark, dir)
    val afterCompact = IcebergLite.readTable(spark, dir)
    assert(afterCompact.select("weight").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(10L, 20L, 30L, 50L))
    // partition-column evolution refuses loudly
    val pdir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), pdir,
      partitionBy = Seq("lang"))
    val ex = intercept[IllegalArgumentException](
      IcebergLite.renameColumn(spark, pdir, "lang", "language"))
    assert(ex.getMessage.contains("partition source column"))
  }

  test("merge-on-read deletes: O(matches) write, anti-join read, compact applies") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    val dataFilesBefore = IcebergLite.scanFileCount(spark, dir, Nil)._2
    val n1 = IcebergLite.deleteWhereMOR(spark, dir,
      col("id") === 2L || col("id") === 4L)
    assert(n1 == 2L)
    // the delete wrote NO data files — same live data-file set
    assert(IcebergLite.scanFileCount(spark, dir, Nil)._2 == dataFilesBefore)
    assert(IcebergLite.readTable(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // time travel: the pre-delete snapshot still shows every row
    assert(IcebergLite.readTable(spark, dir, Some(2L)).count() == 5L)
    // a second MOR delete composes — already-deleted rows can't rematch
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") < 3L) == 1L)
    assert(IcebergLite.readTable(spark, dir)
      .select("id").as[Long].collect().toSet == Set(3L, 5L))
    // nothing matches → no snapshot
    val snaps = IcebergLite.snapshotIds(spark, dir)
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") === 99L) == 0L)
    assert(IcebergLite.snapshotIds(spark, dir) == snaps)
    // compaction applies the deletes physically, content preserved
    IcebergLite.compact(spark, dir)
    assert(IcebergLite.readTable(spark, dir)
      .select("id").as[Long].collect().toSet == Set(3L, 5L))
  }

  test("COW deleteWhere composes with outstanding MOR deletes") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 2L)
    // the COW pass force-rewrites delete-referenced files, so its
    // count is the NEW matches only and the deletes become physical
    val n = IcebergLite.deleteWhere(spark, dir, col("id") === 5L)
    assert(n == 1L)
    assert(IcebergLite.readTable(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // time travel through the MOR snapshot still applies its deletes?
    // No — a PAST snapshot read reflects THAT snapshot's manifest list
    assert(IcebergLite.readTable(spark, dir, Some(3L))
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L))
    // expire purges the orphaned delete files physically
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergLite.readTable(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("compactSmallFiles rewrites only the small tail, carries the rest") {
    val dir = tmp()
    // snapshot 1: one chunky file; snapshots 2..4: tiny single-row files
    IcebergLite.createTable(spark,
      spark.createDataFrame((0L until 500L).map(i => (i, s"v$i")))
        .toDF("id", "v").coalesce(1), dir)
    (500L until 503L).foreach(i =>
      IcebergLite.appendSnapshot(spark,
        Seq((i, s"v$i")).toDF("id", "v").coalesce(1), dir))
    val (_, totalBefore) = IcebergLite.scanFileCount(spark, dir, Nil)
    assert(totalBefore == 4)
    val bigSize = {
      // the chunky file is comfortably above the small threshold
      val d = new java.io.File(dir, "data/s1")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).max
    }
    val rewritten = IcebergLite.compactSmallFiles(spark, dir,
      smallerThanBytes = bigSize)
    assert(rewritten == 3L)
    val (_, totalAfter) = IcebergLite.scanFileCount(spark, dir, Nil)
    assert(totalAfter < totalBefore)
    assert(IcebergLite.readTable(spark, dir).count() == 503L)
    // the chunky file carried BY REFERENCE: its path is still live
    val live = IcebergLite.readTable(spark, dir)
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .as[String].collect()
    assert(live.exists(_.contains("/data/s1/")))
    // with outstanding MOR deletes, small-file compaction applies them
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 0L)
    IcebergLite.compactSmallFiles(spark, dir, smallerThanBytes = 1L << 30)
    assert(IcebergLite.readTable(spark, dir).count() == 502L)
  }

  test("compactSmallFiles bin-packs an unpartitioned small tail over tasks") {
    // twelve single-file appends; the target (the small-file threshold)
    // holds about three of them, so the tail is four targets' worth
    val dir = tmp()
    val rnd = new scala.util.Random(11)
    def batch(k: Int) = (0 until 20).map(i =>
        (k * 20L + i, rnd.alphanumeric.take(500).mkString))
      .toDF("id", "pad").coalesce(1)
    IcebergLite.createTable(spark, batch(0), dir)
    (1 until 12).foreach(k => IcebergLite.appendSnapshot(spark, batch(k), dir))
    val sizes = new java.io.File(dir, "data").listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array(d)))
      .filter(_.getName.endsWith(".parquet")).map(_.length)
    assert(sizes.length === 12)
    val target = 3 * sizes.max + 1
    assert(sizes.sum > 2 * target)
    val writers = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null &&
            te.taskMetrics.outputMetrics.bytesWritten > 0)
          writers.merge(te.stageId, 1, _ + _)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(IcebergLite.compactSmallFiles(spark, dir, target) === 12L)
      Thread.sleep(300) // drain the listener bus
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(writers.size === 1, s"write stages: $writers")
    assert(writers.values.iterator.next() > 1,
      s"the rewrite wrote from one task: $writers")
    val (_, after) = IcebergLite.scanFileCount(spark, dir, Nil)
    assert(after > 1 && after < 12, s"$after files after compaction")
    assert(IcebergLite.readTable(spark, dir).select("id").as[Long].collect()
      .sorted.toSeq === (0L until 240L))
  }

  test("removeOrphanFiles deletes only unreferenced files; reads intact") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    // plant orphans: a failed writer's leftovers in an existing and a
    // brand-new snapshot dir
    batch2.toDF("id", "lang", "n").coalesce(1)
      .write.mode("append").parquet(dir + "/data/s1")
    batch1.toDF("id", "lang", "n").coalesce(1)
      .write.mode("append").parquet(dir + "/data/s99")
    val removed = IcebergLite.removeOrphanFiles(spark, dir)
    assert(removed.size >= 2)
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() == 3L)
    // idempotent: second pass removes nothing
    assert(IcebergLite.removeOrphanFiles(spark, dir).isEmpty)
  }

  test("removeOrphanFiles also sweeps unreferenced metadata avro (losing stager's leftovers)") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    // plant a losing concurrent stager's leftovers: attempt-unique
    // manifest + manifest list that no snapshot references
    val metaDir = java.nio.file.Paths.get(dir, "metadata")
    val strayManifest = metaDir.resolve("manifest-99999-deadbeef.avro")
    val strayList = metaDir.resolve("snap-99999-deadbeef.avro")
    java.nio.file.Files.write(strayManifest, Array[Byte](1, 2, 3))
    java.nio.file.Files.write(strayList, Array[Byte](4, 5, 6))
    // a FRESH unreferenced file survives an age-guarded sweep — the
    // concurrent-stager protection (an in-flight commit's staged files
    // are unreferenced until the commit wins)
    assert(IcebergLite.removeOrphanFiles(spark, dir,
      olderThanMs = 3600L * 1000).isEmpty)
    val removed = IcebergLite.removeOrphanFiles(spark, dir)
    assert(removed.exists(_.endsWith("manifest-99999-deadbeef.avro")))
    assert(removed.exists(_.endsWith("snap-99999-deadbeef.avro")))
    // live metadata untouched: current AND time-travel reads intact
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() == 3L)
    assert(IcebergLite.removeOrphanFiles(spark, dir).isEmpty)
  }

  test("manifest column bounds prune files at scan planning") {
    val dir = tmp()
    // three snapshots with disjoint id ranges → bounds segment the space
    IcebergLite.createTable(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((10L, "b", 30L), (11L, "b", 40L)).toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((20L, "c", 50L)).toDF("id", "lang", "n"), dir)
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.GtEq("id", 15L)))
    assert(kept < total, s"expected pruning, kept $kept of $total")
    val rows = IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.GtEq("id", 15L)))
      .filter(col("id") >= 15L).select("id").as[Long].collect().toSet
    assert(rows == Set(20L))
    // string bounds prune too
    val (keptS, totalS) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("lang", "b")))
    assert(keptS < totalS)
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("lang", "b")))
      .filter(col("lang") === "b").count() == 2L)
    // nothing can match → empty frame, declared schema intact
    val none = IcebergLite.readTableWhere(spark, dir,
      Seq(IcebergLite.GtEq("id", 100L)))
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "lang", "n"))
    // conservative on the unmatchable-by-bounds-only: LtEq keeps lows
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.LtEq("id", 2L)))
      .filter(col("id") <= 2L).count() == 2L)
  }

  test("sorted writes make bounds disjoint: point queries prune to ~1/N") {
    val dir = tmp()
    val rows = (0L until 1024L).map(i => (i, s"s${i % 5}", i * 3))
    IcebergLite.createTable(spark,
      spark.createDataFrame(rows).toDF("id", "src", "n")
        .repartition(8), // scrambled input
      dir, sortBy = Seq("id"), sortFiles = 8)
    val (keptAll, total) = IcebergLite.scanFileCount(spark, dir, Nil)
    assert(total >= 4, s"expected several files, got $total")
    assert(keptAll == total)
    // a point/range query on the sort key hits a single range file
    // ≤ 2: an 11-id range can straddle one sampled range boundary
    val (kept, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.GtEq("id", 1000L), IcebergLite.LtEq("id", 1010L)))
    assert(kept <= 2, s"expected ≤2 files for the point range, got $kept")
    val got = IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.GtEq("id", 1000L), IcebergLite.LtEq("id", 1010L)))
      .filter(col("id").between(1000L, 1010L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (1000L to 1010L))
  }

  test("string bounds truncate to 16 code points; pruning stays conservative") {
    val dir = tmp()
    // two long documents sharing a 16-point prefix, one short outlier —
    // the stored bounds are prefix(16)/incremented-prefix, so equality
    // predicates on the full values must still find their files
    val doc1 = "prefixAAAAAAAAAA-this-is-a-very-long-document-one"
    val doc2 = "prefixAAAAAAAAAA-this-is-a-very-long-document-two"
    IcebergLite.createTable(spark, Seq((1L, doc1)).toDF("id", "txt"), dir)
    IcebergLite.appendSnapshot(spark, Seq((2L, doc2)).toDF("id", "txt"), dir)
    IcebergLite.appendSnapshot(spark, Seq((3L, "zz")).toDF("id", "txt"), dir)
    val hit = IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("txt", doc2)))
      .filter(col("txt") === doc2).select("id").as[Long].collect().toSeq
    assert(hit == Seq(2L))
    // the disjoint short-string file still prunes away
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("txt", doc1)))
    assert(kept < total)
  }

  test("bounds prune by FIELD ID across renames and widenings") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1, "x"), (2, "y")).toDF("k", "v"), dir) // k is INT here
    IcebergLite.widenColumn(spark, dir, "k", org.apache.spark.sql.types.LongType)
    IcebergLite.renameColumn(spark, dir, "k", "key")
    IcebergLite.appendSnapshot(spark,
      Seq((100L, "z")).toDF("key", "v"), dir)
    // old files' bounds were written as 4-byte ints under the old name;
    // the pred resolves by field id and the decode sign-extends by the
    // stored width
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.GtEq("key", 50L)))
    assert(kept < total)
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.GtEq("key", 50L)))
      .filter(col("key") >= 50L).select("key").as[Long].collect().toSeq ==
      Seq(100L))
  }

  test("metadata versions advance with a version hint per append") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    val metaDir = new java.io.File(dir, "metadata")
    val names = metaDir.list().toSet
    assert(names.contains("v1.metadata.json") &&
      names.contains("v2.metadata.json") &&
      names.contains("version-hint.text"))
    assert(new String(java.nio.file.Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim == "2")
    // one manifest + one manifest list per snapshot
    assert(names.count(_.startsWith("manifest-")) == 2)
    assert(names.count(_.startsWith("snap-")) == 2)
  }

  // ---- v2 equality deletes (merge-on-read upsert shape) ------------------

  test("equality delete drops matching rows merge-on-read") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    val nKeys = IcebergLite.equalityDeleteMOR(spark, dir,
      Seq(1L, 3L, 99L).toDF("id")) // 99 matches nothing — harmless
    assert(nKeys == 3L)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // time travel to before the delete still sees everything
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() == 3L)
  }

  test("append after equality delete survives: the upsert contract") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    // upsert ids 1 and 3: delete old versions, append new ones
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(1L, 3L).toDF("id"))
    IcebergLite.appendSnapshot(spark,
      Seq((1L, "en", 1000L), (3L, "en", 3000L)).toDF("id", "lang", "n"), dir)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(back == Map(1L -> 1000L, 2L -> 20L, 3L -> 3000L))
    // a SECOND delete round hits the re-appended versions too
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(1L).toDF("id"))
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("composite-key equality delete matches on ALL key columns") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.equalityDeleteMOR(spark, dir,
      Seq((1L, "en"), (2L, "xx")).toDF("id", "lang")) // (2,xx) misses
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("equality + position deletes compose; compact makes both physical") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") === 4L) == 1L)
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(2L).toDF("id"))
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    IcebergLite.compact(spark, dir)
    val after = IcebergLite.readTable(spark, dir)
    assert(after.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    // post-compaction current snapshot carries no delete manifests:
    // a fresh append then a read must not re-apply anything
    IcebergLite.appendSnapshot(spark,
      Seq((2L, "de", 21L)).toDF("id", "lang", "n"), dir)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 5L))
  }

  test("compactSmallFiles rewrites equality-affected files (no resurrection)") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(1L).toDF("id"))
    // every data file is tiny → all rewrite; the eq delete goes physical
    val rewritten = IcebergLite.compactSmallFiles(spark, dir,
      smallerThanBytes = 1L << 30)
    assert(rewritten >= 1L)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("deleteWhere (COW) after an equality delete does not resurrect") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(3L).toDF("id"))
    assert(IcebergLite.deleteWhere(spark, dir, col("id") === 2L) == 1L)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("equality delete refuses unknown key columns") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    val e = intercept[IllegalArgumentException](
      IcebergLite.equalityDeleteMOR(spark, dir, Seq(1L).toDF("nope")))
    assert(e.getMessage.contains("nope"))
  }

  // ---- streaming upsert sink (CDC shape) ---------------------------------

  test("upsertSink: per-batch equality-delete + append is an upsert") {
    val dir = tmp()
    val sink = IcebergLite.upsertSink(dir, Seq("id"))
    sink(batch1.toDF("id", "lang", "n"), 0L) // first batch creates
    sink(Seq((2L, "de", 2000L), (4L, "fr", 40L)).toDF("id", "lang", "n"), 1L)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(back == Map(1L -> 10L, 2L -> 2000L, 3L -> 30L, 4L -> 40L))
  }

  test("upsertSink is exactly-once across full batch replays") {
    val dir = tmp()
    val sink = IcebergLite.upsertSink(dir, Seq("id"))
    sink(batch1.toDF("id", "lang", "n"), 0L)
    val up = Seq((1L, "en", 111L)).toDF("id", "lang", "n")
    sink(up, 1L)
    val snaps = IcebergLite.snapshotIds(spark, dir).size
    sink(up, 1L) // checkpoint replay: both legs must no-op
    assert(IcebergLite.snapshotIds(spark, dir).size == snaps)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(back == Map(1L -> 111L, 2L -> 20L, 3L -> 30L))
  }

  test("upsertSink replays only the missing leg after a mid-batch crash") {
    val dir = tmp()
    val sink = IcebergLite.upsertSink(dir, Seq("id"))
    sink(batch1.toDF("id", "lang", "n"), 0L)
    // simulate a crash between the two legs: the delete committed with
    // its leg key, the append never landed
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(3L).toDF("id"),
      commitKey = Some("upsert-1-del"))
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val before = IcebergLite.snapshotIds(spark, dir).size
    sink(Seq((3L, "en", 333L)).toDF("id", "lang", "n"), 1L) // replay
    // only the append leg commits on replay
    assert(IcebergLite.snapshotIds(spark, dir).size == before + 1)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(back == Map(1L -> 10L, 2L -> 20L, 3L -> 333L))
  }

  test("upsertSink drives a real streaming CDC query end to end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp()
    val stream = MemoryStream[(Long, String, Long)](spark)
    // two versions of id 2 arrive across micro-batches
    stream.addData((1L, "en", 10L), (2L, "de", 20L))
    stream.addData((2L, "de", 2000L), (3L, "fr", 30L))
    val q = stream.toDF().toDF("id", "lang", "n")
      .writeStream
      .foreachBatch(IcebergLite.upsertSink(dir, Seq("id")))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val back = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(back == Map(1L -> 10L, 2L -> 2000L, 3L -> 30L))
  }

  // ---- persisted sort-order metadata -------------------------------------

  test("sort order persists in table metadata and appends inherit it") {
    val dir = tmp()
    val wide = (0L until 400L).map(i => (i, s"l${i % 4}", i * 2))
    IcebergLite.createTable(spark, wide.toDF("id", "lang", "n"), dir,
      sortBy = Seq("id"), sortFiles = 4)
    assert(IcebergLite.tableSortOrder(spark, dir) == Seq("id"))
    // a second writer appends WITHOUT naming the sort — the persisted
    // order clusters its batch anyway, so ranged file skipping holds
    val more = (400L until 800L).map(i => (i, s"l${i % 4}", i * 2))
    IcebergLite.appendSnapshot(spark, more.toDF("id", "lang", "n"), dir,
      sortFiles = 4)
    assert(IcebergLite.tableSortOrder(spark, dir) == Seq("id"))
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.GtEq("id", 0L), IcebergLite.LtEq("id", 60L)))
    assert(total == 8, s"expected 8 files, got $total")
    // the slice lives in snapshot 1's low range file(s) only; snapshot
    // 2's files (ids 400-799) must all prune on bounds
    assert(kept <= 2, s"kept $kept of $total — inherited clustering broken")
    assert(IcebergLite.readTable(spark, dir).count() == 800L)
  }

  test("maintenance commits carry the sort order; rename follows it") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      batch1.toDF("id", "lang", "n"), dir, sortBy = Seq("id"))
    IcebergLite.compact(spark, dir)
    assert(IcebergLite.tableSortOrder(spark, dir) == Seq("id"))
    IcebergLite.renameColumn(spark, dir, "id", "doc_id")
    assert(IcebergLite.tableSortOrder(spark, dir) == Seq("doc_id"))
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergLite.tableSortOrder(spark, dir) == Seq("doc_id"))
  }

  // ---- metadata tables ----------------------------------------------------

  test("snapshots metadata table: operations and commit keys in order") {
    val dir = tmp()
    val sink = IcebergLite.sink(dir)
    sink(batch1.toDF("id", "lang", "n"), 0L)
    sink(batch2.toDF("id", "lang", "n"), 1L)
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 2L)
    val snaps = IcebergLite.metaTable(spark, dir, "snapshots")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    assert(snaps == Seq((1L, "append", Some("batch-0")),
      (2L, "append", Some("batch-1")), (3L, "delete", None)))
  }

  test("files/manifests/partitions metadata tables agree with the data") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    val files = IcebergLite.metaTable(spark, dir, "files").collect()
    assert(files.forall(_.getInt(0) == 0)) // data content only
    assert(files.map(r => r.getLong(3)).sum == 5L)
    // per-file provenance: every file names the snapshot that added it
    assert(files.map(r => r.getLong(5)).toSet == Set(1L, 2L))
    val manifests = IcebergLite.metaTable(spark, dir, "manifests")
      .collect().map(r => (r.getLong(4), r.getLong(6))).toSet
    assert(manifests == Set((1L, 3L), (2L, 2L))) // addedBy -> rows
    // both manifests written under the original spec 0
    assert(IcebergLite.metaTable(spark, dir, "manifests")
      .collect().map(_.getInt(3)).toSet == Set(0))
    val parts = IcebergLite.metaTable(spark, dir, "partitions")
      .collect().map(r =>
        (r.getMap[String, String](0).get("lang").get, r.getLong(2))).toMap
    assert(parts == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L))
    // delete files surface with their content kind
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 1L)
    assert(IcebergLite.metaTable(spark, dir, "files")
      .collect().map(_.getInt(0)).toSet == Set(0, 1))
    val e = intercept[RuntimeException](
      IcebergLite.metaTable(spark, dir, "nope"))
    assert(e.getMessage.contains("unknown metadata table"))
  }

  // ---- incremental (snapshot-range) reads ---------------------------------

  test("incremental read returns exactly the appended range with provenance") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "it", 60L)).toDF("id", "lang", "n"), dir)
    val inc = IcebergLite.readIncremental(spark, dir, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(inc == Set((4L, 2L), (5L, 2L), (6L, 3L)))
    // bounded upper end: (0, 1] is just the first batch
    val first = IcebergLite.readIncremental(spark, dir, 0L, Some(1L))
    assert(first.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // empty range → empty frame, declared schema + provenance column
    val empty = IcebergLite.readIncremental(spark, dir, 3L)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq ==
      Seq("id", "lang", "n", "_added_snapshot_id"))
  }

  test("incremental read refuses non-append ranges and expired history") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhere(spark, dir, col("id") === 1L)
    val exOp = intercept[IllegalArgumentException](
      IcebergLite.readIncremental(spark, dir, 1L))
    assert(exOp.getMessage.contains("append-only"))
    // a range ending before the rewrite is still fine
    assert(IcebergLite.readIncremental(spark, dir, 1L, Some(2L))
      .collect().map(_.getLong(0)).toSet == Set(4L, 5L))
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    // time-traveling to an expired upper end fails at snapshot lookup;
    // a CURRENT-snapshot read over expired LOWER history hits the
    // expired-range guard
    val exExp = intercept[RuntimeException](
      IcebergLite.readIncremental(spark, dir, 1L, Some(2L)))
    assert(exExp.getMessage.contains("not found"))
    val exGap = intercept[IllegalArgumentException](
      IcebergLite.readIncremental(spark, dir, 0L))
    assert(exGap.getMessage.contains("expired"))
  }

  // ---- refs: branches, tags, write-audit-publish ---------------------------

  test("write-audit-publish: stage on a branch, validate, fast-forward main") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.createBranch(spark, dir, "audit")
    // staged commits stack on the branch; main's readers see nothing
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      toBranch = "audit")
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "it", 60L)).toDF("id", "lang", "n"), dir, toBranch = "audit")
    assert(IcebergLite.readTable(spark, dir).count() == 3L)
    assert(IcebergLite.readTableRef(spark, dir, "audit").count() == 6L)
    assert(IcebergLite.readTableRef(spark, dir, "main").count() == 3L)
    // the audit passes → publish: main sees all staged rows atomically
    IcebergLite.fastForward(spark, dir, "main", "audit")
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // and later main commits continue normally
    IcebergLite.appendSnapshot(spark,
      Seq((7L, "pt", 70L)).toDF("id", "lang", "n"), dir)
    assert(IcebergLite.readTable(spark, dir).count() == 7L)
  }

  test("diverged branches refuse fast-forward; tags are immutable") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.createBranch(spark, dir, "stage")
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      toBranch = "stage")
    // main moves independently → stage's head no longer descends from it
    IcebergLite.appendSnapshot(spark,
      Seq((9L, "it", 90L)).toDF("id", "lang", "n"), dir)
    val ex = intercept[IllegalArgumentException](
      IcebergLite.fastForward(spark, dir, "main", "stage"))
    assert(ex.getMessage.contains("not a fast-forward"))
    IcebergLite.createTag(spark, dir, "v1", at = Some(1L))
    val exTag = intercept[RuntimeException](
      IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
        toBranch = "v1"))
    assert(exTag.getMessage.contains("tag"))
    val exFf = intercept[IllegalArgumentException](
      IcebergLite.fastForward(spark, dir, "v1", "main"))
    assert(exFf.getMessage.contains("tag"))
    assert(IcebergLite.readTableRef(spark, dir, "v1")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("expire keeps ref'd snapshots; refs survive maintenance + sink") {
    val dir = tmp()
    val sink = IcebergLite.sink(dir, toBranch = "main")
    sink(batch1.toDF("id", "lang", "n"), 0L)
    IcebergLite.createTag(spark, dir, "raw")
    sink(batch2.toDF("id", "lang", "n"), 1L)
    IcebergLite.compact(spark, dir)
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    // the tagged snapshot survived expiry; untagged history is gone
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 3L))
    assert(IcebergLite.readTableRef(spark, dir, "raw").count() == 3L)
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    // refs metadata table shows the pointers
    val refs = IcebergLite.metaTable(spark, dir, "refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSet == Set(("main", "branch", 3L), ("raw", "tag", 1L)))
    IcebergLite.dropRef(spark, dir, "raw")
    assert(IcebergLite.tableRefs(spark, dir).keySet == Set("main"))
  }

  test("branch sink is exactly-once and publishes atomically") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.createBranch(spark, dir, "staging")
    val sink = IcebergLite.sink(dir, toBranch = "staging")
    sink(batch2.toDF("id", "lang", "n"), 7L)
    sink(batch2.toDF("id", "lang", "n"), 7L) // checkpoint replay: no-op
    assert(IcebergLite.readTableRef(spark, dir, "staging").count() == 5L)
    assert(IcebergLite.readTable(spark, dir).count() == 3L)
    IcebergLite.fastForward(spark, dir, "main", "staging")
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
  }

  test("changelog: inserts + both MOR delete shapes, in commit order") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
        (4L, "fr", 40L)).toDF("id", "lang", "n"), dir)      // snap 1
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 2L) // snap 2
    // keys 2 and 3: 2 is ALREADY deleted — pre-image must exclude it
    IcebergLite.equalityDeleteMOR(spark, dir,
      Seq(2L, 3L).toDF("id"))                                // snap 3
    IcebergLite.appendSnapshot(spark,
      Seq((2L, "de", 21L), (3L, "en", 31L)).toDF("id", "lang", "n"),
      dir)                                                   // snap 4
    val log = IcebergLite.readChangelog(spark, dir, 0L)
      .collect().map(r => (r.getLong(4), r.getString(3), r.getLong(0)))
      .toSet
    assert(log == Set(
      (1L, "insert", 1L), (1L, "insert", 2L), (1L, "insert", 3L),
      (1L, "insert", 4L),
      (2L, "delete", 2L),
      (3L, "delete", 3L), // NOT id 2: it was gone before the eq delete
      (4L, "insert", 2L), (4L, "insert", 3L)))
    // replaying the changelog converges on the table
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((1L, 10L), (4L, 40L), (2L, 21L), (3L, 31L)))
    // bounded sub-range: just the delete snapshots
    val mid = IcebergLite.readChangelog(spark, dir, 1L, Some(3L))
      .collect().map(r => (r.getLong(4), r.getLong(0))).toSet
    assert(mid == Set((2L, 2L), (3L, 3L)))
    // empty range → declared shape
    val empty = IcebergLite.readChangelog(spark, dir, 4L)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq ==
      Seq("id", "lang", "n", "_change_type", "_commit_snapshot_id"))
  }

  test("changelog refuses copy-on-write rewrites by name") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhere(spark, dir, col("id") === 1L) // COW delete
    val e = intercept[IllegalArgumentException] {
      IcebergLite.readChangelog(spark, dir, 0L).collect()
    }
    assert(e.getMessage.contains("copy-on-write"))
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.compact(spark, dir)
    val e2 = intercept[Exception] {
      IcebergLite.readChangelog(spark, dir, 2L).collect()
    }
    assert(e2.getMessage.contains("changelog"))
    // a clean sub-range after the rewrite still reads
    val tail2 = IcebergLite.readChangelog(spark, dir, 2L, Some(3L))
    assert(tail2.collect().map(_.getLong(0)).toSet == Set(4L, 5L))
  }

  test("changelog insert legs agree with readIncremental on append-only ranges") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    val viaLog = IcebergLite.readChangelog(spark, dir, 0L)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSet
    val viaInc = IcebergLite.readIncremental(spark, dir, 0L)
      .collect().map(r => (r.getLong(0), "insert", r.getLong(3))).toSet
    assert(viaLog == viaInc)
  }

  test("rollback restores an ancestor head; appends stack on it") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((9L, "xx", 90L)).toDF("id", "lang", "n"), dir) // the bad commit
    IcebergLite.rollbackTo(spark, dir, 2L)
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    // abandoned snapshot still time-travels until expiry
    assert(IcebergLite.readTable(spark, dir, Some(3L)).count() == 6L)
    // the next append stacks on the restored head, skipping the orphan
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "it", 60L)).toDF("id", "lang", "n"), dir)
    assert(IcebergLite.readTable(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // changelog from the restored lineage never shows the orphan rows
    val ids = IcebergLite.readChangelog(spark, dir, 1L)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(4L, 5L, 6L))
    // non-ancestor target refuses: a staged branch head is not an undo
    IcebergLite.createBranch(spark, dir, "stage", at = Some(2L))
    IcebergLite.appendSnapshot(spark,
      Seq((7L, "pt", 70L)).toDF("id", "lang", "n"), dir, toBranch = "stage")
    val e = intercept[IllegalArgumentException] {
      IcebergLite.rollbackTo(spark, dir, 5L)
    }
    assert(e.getMessage.contains("not an ancestor"))
  }

  test("expire is lineage-aware: orphans purge, live ancestors survive") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark,
      Seq((8L, "xx", 80L)).toDF("id", "lang", "n"), dir) // snap 2 (bad)
    IcebergLite.rollbackTo(spark, dir, 1L)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    // lineage is 1 → 3; snap 2 is a dead orphan with a HIGHER id than 1
    IcebergLite.expireSnapshots(spark, dir, keepLast = 2)
    // id-recency retention would have kept {2, 3} and purged 1; the
    // lineage rule keeps {1, 3} and reclaims the orphan
    assert(IcebergLite.snapshotIds(spark, dir) == Seq(1L, 3L))
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() == 3L)
    assert(IcebergLite.readTable(spark, dir).count() == 5L)
    assert(intercept[Exception] {
      IcebergLite.readTable(spark, dir, Some(2L)).collect()
    }.getMessage.contains("not found"))
    // a staged branch's private commits survive main's expiry and the
    // publish still works afterwards
    IcebergLite.createBranch(spark, dir, "stage")
    IcebergLite.appendSnapshot(spark,
      Seq((9L, "it", 90L)).toDF("id", "lang", "n"), dir, toBranch = "stage")
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    IcebergLite.fastForward(spark, dir, "main", "stage")
    assert(IcebergLite.readTable(spark, dir).count() == 6L)
  }

  test("changelog walks the lineage: rolled-back snapshots are skipped " +
      "and the eq-delete pre-image is the recorded parent") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 2L) // snap 2
    IcebergLite.rollbackTo(spark, dir, 1L) // snap 2 is now an orphan
    // eq delete commits as snap 3 with RECORDED parent 1: its
    // pre-image must be snap 1 (both rows live), NOT orphan snap 2
    // (where id 2 is already gone) — numeric adjacency would pick 2
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(2L).toDF("id"))
    IcebergLite.appendSnapshot(spark,
      Seq((2L, "de", 21L)).toDF("id", "lang", "n"), dir) // snap 4
    val log = IcebergLite.readChangelog(spark, dir, 0L)
      .collect().map(r => (r.getLong(4), r.getString(3), r.getLong(0),
        r.getLong(2))).toSet
    assert(log == Set(
      (1L, "insert", 1L, 10L), (1L, "insert", 2L, 20L),
      (3L, "delete", 2L, 20L), // present ONLY via the snap-1 pre-image
      (4L, "insert", 2L, 21L)))
    // incremental refuses a resume point that a rollback moved past
    val e = intercept[IllegalArgumentException] {
      IcebergLite.readIncremental(spark, dir, 2L).collect()
    }
    assert(e.getMessage.contains("not on the current lineage"))
    // the full mirror converges through the same history
    val dst = tmp()
    IcebergLite.syncViaChangelog(spark, dir, dst, Seq("id"))
    assert(IcebergLite.readTable(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((1L, 10L), (2L, 21L)))
  }

  test("syncViaChangelog mirrors an upsert history; resync is a no-op") {
    val src = tmp(); val dst = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
        (4L, "fr", 40L)).toDF("id", "lang", "n"), src)
    IcebergLite.deleteWhereMOR(spark, src, col("id") === 2L)
    IcebergLite.equalityDeleteMOR(spark, src, Seq(2L, 3L).toDF("id"))
    IcebergLite.appendSnapshot(spark,
      Seq((2L, "de", 21L), (3L, "en", 31L)).toDF("id", "lang", "n"), src)
    val (nDel, nIns) = IcebergLite.syncViaChangelog(spark, src, dst,
      keyCols = Seq("id"))
    assert((nDel, nIns) == (2L, 6L)) // keys {2}, {3}; inserts 4 + 2
    def state(dir: String) = IcebergLite.readTable(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(state(dst) == state(src))
    assert(state(dst) == Set((1L, "en", 10L), (4L, "fr", 40L),
      (2L, "de", 21L), (3L, "en", 31L)))
    // nothing new → no-op, no new mirror snapshots
    val before = IcebergLite.snapshotIds(spark, dst)
    assert(IcebergLite.syncViaChangelog(spark, src, dst, Seq("id")) == (0L, 0L))
    assert(IcebergLite.snapshotIds(spark, dst) == before)
    // more source history → only the delta applies
    IcebergLite.equalityDeleteMOR(spark, src, Seq(1L).toDF("id"))
    IcebergLite.appendSnapshot(spark,
      Seq((5L, "it", 50L)).toDF("id", "lang", "n"), src)
    assert(IcebergLite.syncViaChangelog(spark, src, dst, Seq("id")) == (1L, 1L))
    assert(state(dst) == state(src))
  }

  test("syncViaChangelog replays only the missing leg after a crash") {
    val src = tmp(); val dst = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n"), src)
    IcebergLite.equalityDeleteMOR(spark, src, Seq(1L).toDF("id"))
    IcebergLite.appendSnapshot(spark,
      Seq((1L, "en", 11L)).toDF("id", "lang", "n"), src)
    // sync snapshot 1, then simulate a crash mid-snapshot-2: the del
    // leg of snapshot 2 landed, the rest never ran
    IcebergLite.appendSnapshot(spark,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n"),
      dst, commitKey = Some("cdc-1-ins"))
    IcebergLite.equalityDeleteMOR(spark, dst, Seq(1L).toDF("id"),
      commitKey = Some("cdc-2-del"))
    val (nDel, nIns) = IcebergLite.syncViaChangelog(spark, src, dst, Seq("id"))
    assert((nDel, nIns) == (0L, 1L)) // both committed legs no-op'd
    assert(IcebergLite.readTable(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((1L, 11L), (2L, 20L)))
  }

  test("incremental replication mirrors appends exactly-once, resumably") {
    val src = tmp()
    val dst = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), src)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), src)
    assert(IcebergLite.replicateIncremental(spark, src, dst) == 5L)
    assert(IcebergLite.readTable(spark, dst)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // nothing new → no-op, no new destination snapshots
    val snaps = IcebergLite.snapshotIds(spark, dst).size
    assert(IcebergLite.replicateIncremental(spark, src, dst) == 0L)
    assert(IcebergLite.snapshotIds(spark, dst).size == snaps)
    // new source appends flow; already-consumed ones never re-copy
    IcebergLite.appendSnapshot(spark,
      Seq((6L, "it", 60L)).toDF("id", "lang", "n"), src)
    assert(IcebergLite.replicateIncremental(spark, src, dst) == 1L)
    assert(IcebergLite.readTable(spark, dst).count() == 6L)
    // destination snapshot log IS the watermark: per-source-snapshot
    // commit keys, in order
    val keys = IcebergLite.metaTable(spark, dst, "snapshots")
      .collect().map(r => Option(r.getString(2))).toSeq
    assert(keys == Seq(Some("sync-1"), Some("sync-2"), Some("sync-3")))
    // a source rewrite breaks the appends-only contract loudly
    IcebergLite.deleteWhere(spark, src, col("id") === 1L)
    val ex = intercept[IllegalArgumentException](
      IcebergLite.replicateIncremental(spark, src, dst))
    assert(ex.getMessage.contains("append-only"))
  }

  test("incremental read projects through schema evolution") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.renameColumn(spark, dir, "n", "chars")
    IcebergLite.addColumn(spark, dir,
      "score", org.apache.spark.sql.types.LongType)
    IcebergLite.appendSnapshot(spark,
      Seq((7L, "pt", 70L, 1L)).toDF("id", "lang", "chars", "score"), dir)
    // range spans files written under BOTH schemas: old files resolve
    // by field id (renamed column, NULL for the added one)
    val inc = IcebergLite.readIncremental(spark, dir, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        Option(r.get(3)), r.getLong(4))).toSet
    assert(inc == Set((1L, 10L, None, 1L), (2L, 20L, None, 1L),
      (3L, 30L, None, 1L), (7L, 70L, Some(1L), 2L)))
  }

  // ---- per-file Bloom filters (off-sort-key point lookups) -----------------

  /** ts-sorted rows whose doc_id is INTERLEAVED across the ts order, so
    * every file's doc_id min/max bounds span ~the whole range — bounds
    * prove nothing for an id probe; only the Bloom leg can skip. */
  private def interleaved(n: Int, shift: Long = 0L) =
    (0 until n).map { i =>
      val id = shift + i
      (id, (id * 2654435761L) % 100000L, s"d$id")
    }.toDF("doc_id", "ts", "s")

  test("bloom sidecar prunes an off-sort-key equality probe; bounds could not") {
    val dir = tmp()
    IcebergLite.createTable(spark, interleaved(4000), dir,
      sortBy = Seq("ts"), sortFiles = 8, bloomFor = Seq("doc_id"))
    val (_, total) = IcebergLite.scanFileCount(spark, dir, Nil)
    assert(total == 8, s"expected 8 sorted files, got $total")
    // the ts-sorted layout makes doc_id bounds useless: an id probe
    // without blooms would keep every file; with them it keeps ~1
    val (kept, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 1234L)))
    assert(kept <= 3, s"kept $kept of $total — bloom leg not pruning")
    val row = IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 1234L)))
      .filter(col("doc_id") === 1234L).collect()
    assert(row.map(_.getString(2)).toSeq == Seq("d1234"))
    // an absent key keeps ~0 files and returns nothing
    val (keptAbsent, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 999999L)))
    assert(keptAbsent <= 2, s"kept $keptAbsent for an absent key")
    // RANGE predicates never consult blooms (equality only): all rows back
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.GtEq("doc_id", 0L))).count() == 4000L)
    // string bloom columns work too, same table contract
    val dir2 = tmp()
    IcebergLite.createTable(spark, interleaved(1000), dir2,
      sortBy = Seq("ts"), sortFiles = 4, bloomFor = Seq("s"))
    val (keptS, totalS) = IcebergLite.scanFileCount(spark, dir2,
      Seq(IcebergLite.EqTo("s", "d77")))
    assert(totalS == 4 && keptS <= 2, s"kept $keptS of $totalS")
  }

  test("bloom contract persists: appends inherit, readers stay conservative") {
    val dir = tmp()
    // first snapshot WITHOUT blooms, then the contract is declared:
    // old files have no filter and must always scan (conservative)
    IcebergLite.createTable(spark, interleaved(1000), dir,
      sortBy = Seq("ts"), sortFiles = 4)
    IcebergLite.appendSnapshot(spark, interleaved(1000, shift = 10000L),
      dir, bloomFor = Seq("doc_id"))
    // third append names nothing — inherits the property
    IcebergLite.appendSnapshot(spark, interleaved(1000, shift = 20000L), dir)
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 20500L)))
    // gen-1 pruned by id BOUNDS (range-disjoint generations), gen-2/3
    // by their blooms: the legs compose
    assert(kept < total, s"kept $kept of $total")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 20500L)))
      .filter(col("doc_id") === 20500L).count() == 1L)
    // a probe INSIDE the unfiltered generation: its interleaved ids
    // make every gen-1 file's bounds span the range and there are no
    // filters — all 4 must scan (conservative), and the row comes back
    val (keptOld, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 500L)))
    assert(keptOld >= 4, s"kept $keptOld — unfiltered gen-1 must scan whole")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 500L)))
      .filter(col("doc_id") === 500L).count() == 1L)
  }

  test("blooms survive rewrites, rename, and expiry GC's orphaned sidecars") {
    val dir = tmp()
    IcebergLite.createTable(spark, interleaved(2000), dir,
      sortBy = Seq("ts"), sortFiles = 4, bloomFor = Seq("doc_id"))
    IcebergLite.appendSnapshot(spark, interleaved(2000, shift = 10000L), dir)
    // COW delete: rewritten files get FRESH filters, carried keep theirs
    IcebergLite.deleteWhere(spark, dir, col("doc_id") % 100 === 7L)
    val (k1, t1) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 11234L)))
    assert(k1 < t1, s"kept $k1 of $t1 after deleteWhere")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 11234L)))
      .filter(col("doc_id") === 11234L).count() == 1L)
    // rename the bloom column: the property follows (field ids stable),
    // filters still consulted through the NEW name
    IcebergLite.renameColumn(spark, dir, "doc_id", "uid")
    val (k2, t2) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("uid", 11234L)))
    assert(k2 < t2, s"kept $k2 of $t2 after rename")
    // full compact rebuilds filters over the new files
    IcebergLite.compact(spark, dir)
    val (k3, t3) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("uid", 11234L)))
    assert(k3 < t3, s"kept $k3 of $t3 after compact")
    // expiry purges sidecars no retained manifest references
    val metaDir = new java.io.File(dir, "metadata")
    val bloomsBefore = metaDir.list().count(_.startsWith("bloom-"))
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    val bloomsAfter = metaDir.list().count(_.startsWith("bloom-"))
    assert(bloomsAfter < bloomsBefore,
      s"expiry left $bloomsAfter of $bloomsBefore sidecars")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("uid", 11234L)))
      .filter(col("uid") === 11234L).count() == 1L)
  }

  // ---- snapshot timestamps, snapshot-log, AS OF TIMESTAMP -------------------

  test("AS OF TIMESTAMP resolves through the snapshot-log; timestamps persist") {
    val dir = tmp()
    val t0 = System.currentTimeMillis() - 1
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    val t2 = System.currentTimeMillis()
    // before the table existed: loud
    val ex = intercept[IllegalArgumentException](
      IcebergLite.readTableAsOf(spark, dir, t0))
    assert(ex.getMessage.contains("no snapshot as of"))
    // between the commits: snapshot 1; after both: the head
    assert(IcebergLite.readTableAsOf(spark, dir, t1).count() == 3L)
    assert(IcebergLite.readTableAsOf(spark, dir, t2).count() == 5L)
    // commit timestamps survive later metadata rewrites VERBATIM
    // (evolution + expiry rewrite vN.metadata.json; regenerating
    // timestamps would corrupt the as-of surface)
    val histBefore = IcebergLite.metaTable(spark, dir, "history")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    IcebergLite.addColumn(spark, dir, "x",
      org.apache.spark.sql.types.LongType)
    val histAfter = IcebergLite.metaTable(spark, dir, "history")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(histBefore == histAfter)
    assert(IcebergLite.readTableAsOf(spark, dir, t1).count() == 3L)
  }

  test("history table + as-of across rollback: the restored head wins") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    IcebergLite.rollbackTo(spark, dir, 1L)
    Thread.sleep(5)
    val tAfterRollback = System.currentTimeMillis()
    // the log records commit, commit, rollback — three head changes
    val hist = IcebergLite.metaTable(spark, dir, "history")
      .collect().map(r => (r.getLong(1), r.getBoolean(2))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 1L))
    // snapshot 2 is a rolled-back orphan, not a current ancestor
    assert(hist.map(_._2) == Seq(true, false, true))
    // as-of NOW resolves to the RESTORED head, not the orphan
    assert(IcebergLite.readTableAsOf(spark, dir, tAfterRollback)
      .count() == 3L)
    // branch commits never enter the history (main's pointer unmoved)
    IcebergLite.createBranch(spark, dir, "audit")
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir,
      toBranch = "audit")
    assert(IcebergLite.metaTable(spark, dir, "history").count() == 3L)
    // ...until a fast-forward PUBLISHES: that is a head change
    IcebergLite.fastForward(spark, dir, "main", "audit")
    val hist2 = IcebergLite.metaTable(spark, dir, "history")
      .collect().map(_.getLong(1)).toSeq
    assert(hist2.size == 4 && hist2.last == 3L)
    assert(IcebergLite.readTableAsOf(spark, dir,
      System.currentTimeMillis()).count() == 5L)
  }

  test("snapshot summaries carry operational metrics; metadata-log chains versions") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 1L)
    val snaps = IcebergLite.metaTable(spark, dir, "snapshots")
      .orderBy("snapshot_id").collect()
    def m(i: Int, c: String) = snaps(i).getLong(snaps(i).fieldIndex(c))
    assert(m(0, "added_records") == 3L && m(0, "total_records") == 3L)
    assert(m(1, "added_records") == 2L && m(1, "total_records") == 5L)
    assert(m(0, "added_data_files") > 0L)
    // the MOR delete adds no data files; totals hold, a delete manifest
    // appears (total_records counts DATA rows only)
    assert(m(2, "added_data_files") == 0L && m(2, "total_records") == 5L)
    assert(snaps.forall(r => !r.isNullAt(r.fieldIndex("committed_at"))))
    // metadata-log: v3 names v1 and v2 as superseded, in order
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "metadata", "v3.metadata.json")))
    val logged = node.get("metadata-log").elements()
    val files = Iterator.continually(logged)
      .takeWhile(_.hasNext).map(_.next().get("metadata-file").asText()).toSeq
    assert(files.map(_.split('/').last) ==
      Seq("v1.metadata.json", "v2.metadata.json"))
    // a REWRITE snapshot's metrics count ADDED entries, never the
    // carried EXISTING ones (review r14: added-* used to report the
    // whole table after a one-file deleteWhere)
    IcebergLite.deleteWhere(spark, dir, col("id") === 2L)
    val rw = IcebergLite.metaTable(spark, dir, "snapshots")
      .orderBy("snapshot_id").collect().last
    def rm(c: String) = rw.getLong(rw.fieldIndex(c))
    assert(rm("added_records") < 4L,
      s"rewrite added_records counts carried entries: ${rm("added_records")}")
    assert(rm("total_records") == 3L) // 5 - id1 (MOR) - id2 (COW)
  }

  test("expiry prunes history entries of purged snapshots; as-of stays sound") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    IcebergLite.appendSnapshot(spark, batch2.toDF("id", "lang", "n"), dir)
    Thread.sleep(5)
    val tHead = System.currentTimeMillis()
    IcebergLite.expireSnapshots(spark, dir, keepLast = 1)
    val hist = IcebergLite.metaTable(spark, dir, "history")
      .collect().map(_.getLong(1)).toSeq
    assert(hist == Seq(2L), s"expired entries must leave the log: $hist")
    assert(IcebergLite.readTableAsOf(spark, dir, tHead).count() == 5L)
  }

  test("blooms compose with partition-spec evolution across generations") {
    val dir = tmp()
    IcebergLite.createTable(spark, interleaved(1000), dir,
      sortBy = Seq("ts"), sortFiles = 4, bloomFor = Seq("doc_id"))
    IcebergLite.evolveSpec(spark, dir, Seq("bucket[4]:s"))
    IcebergLite.appendSnapshot(spark, interleaved(1000, shift = 10000L),
      dir, partitionBy = Seq("bucket[4]:s"))
    // gen-2 probe: its files prune by BOTH the bucket transform (on s)
    // and the doc_id bloom; gen-1 files prune by doc_id bounds
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 10500L)))
    assert(kept < total, s"kept $kept of $total across generations")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 10500L)))
      .filter(col("doc_id") === 10500L).count() == 1L)
    // a gen-1 probe still bloom-prunes within its generation
    val (kept1, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 500L)))
    assert(kept1 <= 2 + 4, s"kept $kept1 — gen-1 bloom leg lost")
    // maintenance re-keys + refreshes filters under the NEW spec
    IcebergLite.compact(spark, dir)
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", 10500L)))
      .filter(col("doc_id") === 10500L).count() == 1L)
    val (kept2, total2) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", 10500L)))
    assert(kept2 < total2, s"kept $kept2 of $total2 after compact")
  }

  test("bloom refusals: unknown and non-scalar columns refuse at write time") {
    val dir = tmp()
    val ex = intercept[IllegalArgumentException](
      IcebergLite.createTable(spark, interleaved(10), dir,
        bloomFor = Seq("missing")))
    assert(ex.getMessage.contains("not in schema"))
  }

  test("bloom build rides the write: the batch is read ONCE") {
    // the write tasks build the filters and the manifest bounds while
    // they write, so an append with bloom columns reads its batch once
    // (the source scan) and never reads its own files back. Pinned by
    // task input metrics: rows read during the create stay ~1× the
    // batch, where a read-back of the written files would add another n.
    val dir = tmp()
    val n = 20000L
    val df = spark.range(1, n + 1).toDF("doc_id")
      .withColumn("s", concat(lit("v"), col("doc_id").cast("string")))
      .coalesce(4)
    @volatile var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recordsRead += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IcebergLite.createTable(spark, df, dir, bloomFor = Seq("doc_id", "s"))
      // listener events are async: wait until the count stabilizes
      var prev = -1L
      var spins = 0
      while (prev != recordsRead && spins < 50) {
        prev = recordsRead; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // accounting: the write materializes the source df once (n rows of
    // range input); any read-back of the written files adds n more
    assert(recordsRead >= n, s"expected the source scan, got $recordsRead")
    assert(recordsRead < (1.5 * n).toLong,
      s"batch read more than once during ingest: $recordsRead rows " +
        s"for a $n-row batch — the written files were read back")
    // and the filters still prune + the probe still hits
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("doc_id", n)))
    assert(total == 4 && kept <= 2, s"kept $kept of $total")
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("doc_id", n)))
      .filter(col("doc_id") === n).count() == 1L)
    val (keptS, _) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("s", "v1")))
    assert(keptS <= 2, s"string bloom leg lost: kept $keptS")
  }
  test("DML match scans visit only CANDIDATE files mined from the predicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iceb_dmlprune")
      .toString + "/t"
    val rows = (1 to 400)
      .map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 10L))
      .toDF("id", "lang", "n")
    // 2 partitions x 4 id-ranged files each: a partition-targeted
    // predicate has a 200-row candidate set, a bounds-targeted one ~50
    IcebergLite.createTable(spark, rows, dir, partitionBy = Seq("lang"),
      sortBy = Seq("id"), sortFiles = 4)
    var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recordsRead += te.taskMetrics.inputMetrics.recordsRead
    }
    def measured(f: => Unit): Long = {
      recordsRead = 0L
      spark.sparkContext.addSparkListener(listener)
      try { f; var prev = -1L; var spins = 0
        while (prev != recordsRead && spins < 50) {
          prev = recordsRead; spins += 1; Thread.sleep(100) }
      } finally spark.sparkContext.removeSparkListener(listener)
      recordsRead
    }
    // zero-match partition-targeted DELETE: only partition a scans
    val r1 = measured {
      assert(IcebergLite.deleteWhere(spark, dir,
        col("lang") === "a" && col("n") < 0L) === 0L)
    }
    assert(r1 <= 250, s"partition-targeted delete scanned $r1 rows " +
      "(expected ~200: partition a only)")
    // zero-match bounds-targeted UPDATE: the sorted id range prunes to
    // ~1 file per partition
    val r2 = measured {
      assert(IcebergLite.updateWhere(spark, dir,
        col("id") <= 40L && col("n") < 0L, Seq("n" -> lit(0L))) === 0L)
    }
    assert(r2 <= 150, s"bounds-targeted update scanned $r2 rows " +
      "(expected ~100: the first id-range files)")
    // an OR of conjunctions prunes as the union of its branches
    val r3 = measured {
      assert(IcebergLite.deleteWhereMOR(spark, dir,
        (col("lang") === "a" && col("n") < 0L) ||
          (col("lang") === "b" && col("id") <= 20L && col("n") < 0L))
        === 0L)
    }
    assert(r3 <= 320, s"OR-pruned MOR delete scanned $r3 rows")
    // correctness unchanged: a real targeted delete still lands
    assert(IcebergLite.deleteWhere(spark, dir,
      col("lang") === "a" && col("id") <= 10L) === 5L)
    assert(IcebergLite.readTable(spark, dir).count() === 395L)
  }

  test("createEmptyTable: schema-only create reads empty, first append stacks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iceb_empty")
      .toString + "/t"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("lang", StringType), StructField("n", LongType)))
    IcebergLite.createEmptyTable(spark, schema, dir,
      partitionBy = Seq("lang"), sortBy = Seq("id"), bloomFor = Seq("id"))
    // reads back as zero rows OF THE DECLARED SHAPE
    val empty = IcebergLite.readTable(spark, dir)
    assert(empty.count() === 0L)
    assert(empty.schema.fieldNames.toSeq === Seq("id", "lang", "n"))
    assert(IcebergLite.tableRowCount(spark, dir) === 0L)
    // the contract persisted at create governs the first append
    assert(IcebergLite.tablePartitionSpec(spark, dir) === Seq("lang"))
    assert(IcebergLite.tableSortOrder(spark, dir) === Seq("id"))
    IcebergLite.appendSnapshot(spark,
      (1 to 6).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 10L))
        .toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    assert(IcebergLite.readTable(spark, dir).count() === 6L)
    // snapshot 1 (the empty create) still time-travels
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() === 0L)
    // contract refusal: a partition column absent from the schema
    val e = intercept[IllegalArgumentException] {
      IcebergLite.createEmptyTable(spark, schema, dir + "2",
        partitionBy = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("replaceTable keeps history: truncate + schema swap + append in-chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iceb_repl")
      .toString + "/t"
    val v1 = (1 to 8).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 10L))
      .toDF("id", "lang", "n")
    IcebergLite.createTable(spark, v1, dir, partitionBy = Seq("lang"),
      sortBy = Seq("id"), bloomFor = Seq("id"))
    // replace with a DIFFERENT schema (drop n, add score) + new contract
    val v2 = (1 to 4).map(i => (i.toLong, "c", i * 1.5)).toDF("id", "lang", "score")
    IcebergLite.replaceTable(spark, dir, v2.schema, Some(v2),
      partitionBy = Seq("lang"), sortBy = Seq("id"))
    val now = IcebergLite.readTable(spark, dir)
    assert(now.schema.fieldNames.toSeq === Seq("id", "lang", "score"))
    assert(now.count() === 4L)
    // history: snapshot 1 (pre-replace) still reads the ORIGINAL data
    assert(IcebergLite.readTable(spark, dir, Some(1L)).count() === 8L)
    // id stability: `id`/`lang` kept their field ids across the replace
    // (same name+type), so the pre-replace snapshot's files still
    // resolve those columns by id
    assert(IcebergLite.readTable(spark, dir, Some(1L))
      .agg(sum(col("id"))).head().getLong(0) === (1 to 8).map(_.toLong).sum)
    // the new contract persisted
    assert(IcebergLite.tablePartitionSpec(spark, dir) === Seq("lang"))
    assert(IcebergLite.tableSortOrder(spark, dir) === Seq("id"))
    // a second append under the new shape stacks normally
    IcebergLite.appendSnapshot(spark,
      Seq((9L, "d", 9.5)).toDF("id", "lang", "score"), dir,
      partitionBy = Seq("lang"))
    assert(IcebergLite.readTable(spark, dir).count() === 5L)
    // replace on a MISSING table degrades to create
    val dir2 = dir + "_fresh"
    IcebergLite.replaceTable(spark, dir2, v2.schema, Some(v2))
    assert(IcebergLite.readTable(spark, dir2).count() === 4L)
  }

  test("string partition values keep their text: numeric- and timestamp-like") {
    // directory names are strings; the manifest and the read must not
    // re-infer a type from them ("007" is not the int 7)
    for (rows <- Seq(Seq(("007", 1L), ("007", 2L)),
                     Seq(("2024-01-01 00:00:00", 3L), ("2024-01-02", 4L)))) {
      val dir = tmp()
      IcebergLite.createTable(spark, rows.toDF("code", "v"), dir, Seq("code"))
      val back = IcebergLite.readTable(spark, dir)
      assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
        rows.toSet)
      rows.map(_._1).distinct.foreach { c =>
        val n = rows.count(_._1 == c).toLong
        assert(back.filter(col("code") === c).count() === n, c)
        assert(IcebergLite.readTableWhere(spark, dir,
          Seq(IcebergLite.EqTo("code", c))).count() === n, c)
      }
      assert(IcebergLite.metaTable(spark, dir, "partitions")
        .select(col("partition").getItem("code")).collect()
        .map(_.getString(0)).toSet === rows.map(_._1).toSet)
    }
  }

  test("partition values Spark escapes in directory names stay readable") {
    // `:`, `/`, `=` and `%` are escaped in the directory name (and a
    // space is not): the manifest must name the file as written, and
    // the DataFrame DML routes must find rows in those files
    val dir = tmp()
    val codes = Seq("2024-01-01 00:00:00", "a b", "x/y", "k=v", "50%", "p+q")
    val rows = codes.zipWithIndex.flatMap { case (c, i) =>
      Seq((c, i * 10L), (c, i * 10L + 1)) }
    IcebergLite.createTable(spark, rows.toDF("code", "v"), dir, Seq("code"))
    def got = IcebergLite.readTable(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === rows.toSet)
    codes.foreach { c =>
      assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("code", c))).count() === 2L, c)
    }
    // copy-on-write delete and update find their rows in escaped dirs
    assert(IcebergLite.deleteWhere(spark, dir, col("v") === 1L) === 1L)
    assert(IcebergLite.updateWhere(spark, dir, col("code") === "50%",
      Seq("v" -> (col("v") + 100L))) === 2L)
    assert(got === rows.toSet
      .filterNot(_._2 == 1L)
      .map { case (c, v) => if (c == "50%") (c, v + 100L) else (c, v) })
    // merge-on-read position deletes key on the same path
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("v") === 10L) === 1L)
    assert(got.size === rows.size - 2)
    IcebergLite.compact(spark, dir)
    assert(got.size === rows.size - 2)
  }

  test("an empty batch writes nothing: appends commit no snapshot, creates refuse") {
    val dir = tmp()
    IcebergLite.createTable(spark, batch1.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    val empty = batch1.toDF("id", "lang", "n").filter(col("id") < 0)
    IcebergLite.appendSnapshot(spark, empty, dir, partitionBy = Seq("lang"))
    assert(IcebergLite.snapshotIds(spark, dir) === Seq(1L))
    assert(IcebergLite.readTable(spark, dir).count() === 3L)
    val e = intercept[IllegalArgumentException](
      IcebergLite.createTable(spark, empty, tmp()))
    assert(e.getMessage.contains("empty batch"))
  }

  /** Rewrite every manifest of a table in place: `edit` sees each
    * manifest's metadata and the `data_file` record of each entry. */
  private def rewriteManifests(dir: String)(
      edit: (Map[String, String], org.apache.avro.generic.GenericRecord) => Unit)
      : Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    new java.io.File(s"$dir/metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".avro"))
      .foreach { mf =>
        val r = new DataFileReader[GenericRecord](mf,
          new GenericDatumReader[GenericRecord]())
        val schema = r.getSchema
        val meta = r.getMetaKeys.asScala.filterNot(_.startsWith("avro."))
          .map(k => k -> r.getMetaString(k)).toMap
        val recs = try r.iterator().asScala.toVector finally r.close()
        recs.foreach(e => edit(meta, e.get("data_file").asInstanceOf[GenericRecord]))
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        meta.foreach { case (k, v) => w.setMeta(k, v) }
        w.create(schema, mf)
        recs.foreach(w.append)
        w.close()
        // the local file system's checksum of the old bytes
        new java.io.File(mf.getParent, s".${mf.getName}.crc").delete()
      }
  }

  private def isPositionDeletes(meta: Map[String, String]): Boolean =
    meta.get("content").contains("deletes") && !meta.contains("equality-cols")

  /** Rewrite a table's manifests and position-delete files into the
    * path rendering of tables whose entries were read back through
    * `input_file_name()`: `file:///…` where the data-file writer
    * records `file:/…`. */
  private def toUrlRenderedPaths(dir: String): Unit = {
    def url(p: String) = p.replaceFirst("^file:/(?!/)", "file:///")
    // a position-delete file's rows name data files: rewrite them into
    // a fresh single file and name that one
    def urlDeleteFile(p: String): String = {
      val out = new java.io.File(new java.net.URI(url(p)).getPath + "-url")
      spark.read.parquet(p)
        .withColumn("file_path", regexp_replace(col("file_path"),
          "^file:/(?!/)", "file:///"))
        .coalesce(1).write.parquet(out.toString)
      "file://" + out.listFiles().filter(_.getName.endsWith(".parquet"))
        .head.getAbsolutePath
    }
    rewriteManifests(dir) { (meta, d) =>
      val p = d.get("file_path").toString
      d.put("file_path", if (isPositionDeletes(meta)) urlDeleteFile(p) else url(p))
    }
  }

  test("a copy-on-write delete after a MOR delete names its files from the manifest, with no job") {
    // two twin tables, one with an outstanding position delete: the
    // deleteWhere that rewrites them must submit the same jobs, i.e.
    // none over the delete file — its exact, equal file_path bounds
    // name the one data file it applies to
    def twin(mor: Boolean): String = {
      val dir = tmp()
      IcebergLite.createTable(spark,
        (1L to 12L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt), i * 10))
          .toDF("id", "lang", "n"), dir, partitionBy = Seq("lang"))
      if (mor) IcebergLite.deleteWhereMOR(spark, dir, col("id") === 3L)
      dir
    }
    def jobsOf(dir: String): (Int, Long) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties != null && "cow-after-mor" ==
              e.properties.getProperty("spark.jobGroup.id"))
            jobs.incrementAndGet()
      }
      val sc = spark.sparkContext
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      sc.addSparkListener(l)
      try {
        sc.setJobGroup("cow-after-mor", "cow after mor")
        val n = try IcebergLite.deleteWhere(spark, dir, col("id") === 6L)
          finally sc.clearJobGroup()
        Thread.sleep(500)
        (jobs.get(), n)
      } finally {
        sc.removeSparkListener(l)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
    val (mor, plain) = (twin(mor = true), twin(mor = false))
    assert(jobsOf(mor) === jobsOf(plain))
    // the delete went physical: id 3 stays gone, id 6 is gone too
    assert(IcebergLite.readTable(spark, mor).select("id").as[Long].collect()
      .sorted.toSeq === (1L to 12L).filterNot(Set(3L, 6L)))
    assert(IcebergLite.metaTable(spark, mor, "manifests")
      .filter(col("content") =!= 0).count() === 0L)
  }

  test("position deletes with truncated file_path bounds still apply") {
    // delete entries carry their exact file_path bounds, which attach
    // each delete file to the data files it names; truncated bounds
    // (the 16-code-point data-column rule) still bound every path they
    // were cut from, so the file attaches to more data files, never
    // fewer, and the same rows drop
    val dir = tmp()
    val rows = (1L to 12L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt), i * 10))
    IcebergLite.createTable(spark, rows.toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    // ids 3, 6, 9, 12 are all lang=en: one data file
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") % 3 === 0L) === 4L)
    val want = rows.filterNot(_._1 % 3 == 0).toSet
    graft.Catalog.registerIcebergTable(spark, "trunc_bounds", dir)
    def check(frAttached: Boolean): Unit = {
      assert(IcebergLite.readTable(spark, dir).as[(Long, String, Long)]
        .collect().toSet === want)
      assert(IcebergLite.readTableWhere(spark, dir,
          Seq(IcebergLite.EqTo("lang", "en"))).as[(Long, String, Long)]
        .collect().toSet === want.filter(_._2 == "en"))
      assert(spark.table("trunc_bounds").as[(Long, String, Long)]
        .collect().toSet === want)
      val fr = spark.table("trunc_bounds").filter(col("lang") === "fr")
      assert(fr.as[(Long, String, Long)].collect().toSet ===
        want.filter(_._2 == "fr"))
      val plan = fr.queryExecution.executedPlan.toString
      assert(plan.contains("MORDeletes: [1 position-delete files") === frAttached,
        plan)
    }
    // exact bounds: lower = upper = the one data file the deletes name,
    // so the fr file carries no delete
    var bounds = Seq.empty[String]
    rewriteManifests(dir) { (meta, d) =>
      if (isPositionDeletes(meta)) Seq("lower_bounds", "upper_bounds").foreach { k =>
        d.get(k).asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
          .forEach { b =>
            if (b.get("key") == IcebergLite.PosPathFieldId) {
              val bb = b.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
              val bytes = new Array[Byte](bb.remaining())
              bb.get(bytes)
              bounds :+= new String(bytes, "UTF-8")
            }
          }
      }
    }
    assert(bounds.size === 2 && bounds.distinct.size === 1 &&
      bounds.head.contains("lang=en/") && bounds.head.length > 17, bounds)
    check(frAttached = false)
    // truncate them as a data column's string bounds are
    rewriteManifests(dir) { (meta, d) =>
      if (isPositionDeletes(meta)) {
        val (lo, hi) = IcebergLite.boundPair(StringType, bounds.head, bounds.head)
        Seq("lower_bounds" -> lo, "upper_bounds" -> hi).foreach { case (k, v) =>
          d.get(k).asInstanceOf[java.util.List[org.apache.avro.generic.GenericRecord]]
            .forEach { b =>
              if (b.get("key") == IcebergLite.PosPathFieldId)
                b.put("value", java.nio.ByteBuffer.wrap(v.get))
            }
        }
      }
    }
    check(frAttached = true)
  }

  test("manifests and position deletes naming files as file:///… still apply") {
    // tables whose manifest entries were read back through
    // input_file_name() name every file `file:///…`, in the manifests
    // AND inside position-delete files; the V1 route must match those
    // strings, not the writer's `file:/…` rendering
    val dir = tmp()
    val rows = (1L to 12L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt), i * 10))
    IcebergLite.createTable(spark, rows.take(8).toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    IcebergLite.appendSnapshot(spark, rows.drop(8).toDF("id", "lang", "n"), dir,
      partitionBy = Seq("lang"))
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") === 2L) === 1L)
    // an equality delete drops id 5 from the files before it; the
    // re-appended id 5 comes after it and survives
    assert(IcebergLite.equalityDeleteMOR(spark, dir, Seq(5L).toDF("id")) === 1L)
    IcebergLite.appendSnapshot(spark, Seq((5L, "en", 55L)).toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    toUrlRenderedPaths(dir)
    assert(IcebergLite.metaTable(spark, dir, "files")
      .select("file_path").as[String].collect().forall(_.startsWith("file:///")))

    var expected = rows.filterNot(r => r._1 == 2L || r._1 == 5L).toSet +
      ((5L, "en", 55L))
    def got = IcebergLite.readTable(spark, dir).as[(Long, String, Long)]
      .collect().toSet
    assert(got === expected)
    assert(IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.EqTo("lang", "de"))).as[(Long, String, Long)]
      .collect().toSet === expected.filter(_._2 == "de"))
    // copy-on-write rewrites the file holding id 7 (and every file an
    // outstanding delete names), dropping it from the manifest
    assert(IcebergLite.deleteWhere(spark, dir, col("id") === 7L) === 1L)
    expected = expected.filterNot(_._1 == 7L)
    assert(got === expected)
    assert(IcebergLite.updateWhere(spark, dir, col("id") === 8L,
      Seq("n" -> lit(0L))) === 1L)
    expected = expected.map(r => if (r._1 == 8L) r.copy(_3 = 0L) else r)
    assert(got === expected)
    IcebergLite.compact(spark, dir)
    assert(got === expected)
  }

  test("compactSmallFiles over many partitions writes one file per partition") {
    // three appends spread every partition over three files; the
    // compaction clusters the packed rows by partition value, as appends
    // do: each partition's rows meet in one task, which writes its one
    // file, and the partitions spread over several write tasks. The
    // incompressible padding keeps the shuffle above the size at which
    // adaptive execution would coalesce it into one task.
    val dir = tmp()
    val parts = 40
    val perPart = 50
    val rnd = new scala.util.Random(7)
    def batch(k: Int) = (0 until parts * perPart).map(i =>
        (k * parts * perPart + i.toLong, s"p${i % parts}",
          rnd.alphanumeric.take(1000).mkString))
      .toDF("id", "part", "pad")
    val batches = (0 until 3).map(k => batch(k).cache())
    IcebergLite.createTable(spark, batches(0), dir, partitionBy = Seq("part"))
    batches.tail.foreach(b => IcebergLite.appendSnapshot(spark, b, dir,
      partitionBy = Seq("part")))
    val files = () => IcebergLite.metaTable(spark, dir, "files")
      .select(col("partition").getItem("part")).as[String].collect().toSeq
    assert(files().size === 3 * parts)
    // tasks that wrote output, per stage, during the compaction
    val writers = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null &&
            te.taskMetrics.outputMetrics.bytesWritten > 0)
          writers.merge(te.stageId, 1, _ + _)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(IcebergLite.compactSmallFiles(spark, dir, 1L << 30) === 3L * parts)
      Thread.sleep(300) // drain the listener bus
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(writers.size === 1, s"write stages: $writers")
    assert(writers.values.iterator.next() > 1,
      s"the rewrite wrote from one task: $writers")
    assert(files().sorted === (0 until parts).map(p => s"p$p").sorted)
    assert(IcebergLite.readTable(spark, dir).select("id", "part")
      .as[(Long, String)].collect().toSet ===
      batches.flatMap(_.select("id", "part").as[(Long, String)].collect()).toSet)
    batches.foreach(_.unpersist())
  }

  test("tableRowCount counts live rows: position deletes subtract") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      (1L to 10L).map(i => (i, if (i % 2 == 0) "en" else "de", i * 10L))
        .toDF("id", "lang", "n"), dir, partitionBy = Seq("lang"))
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") <= 3L) === 3L)
    assert(IcebergLite.readTable(spark, dir).count() === 7L)
    assert(IcebergLite.tableRowCount(spark, dir) === 7L)
    // an equality delete's matches are counted by a read
    IcebergLite.equalityDeleteMOR(spark, dir, Seq(4L, 5L, 99L).toDF("id"))
    assert(IcebergLite.tableRowCount(spark, dir) === 5L)
  }

  test("an equality delete of 50 keys writes one delete file, with AQE on and off") {
    for (aqe <- Seq("true", "false")) {
      val dir = tmp()
      IcebergLite.createTable(spark, (1L to 200L).map(i => (i, "en", i))
        .toDF("id", "lang", "n"), dir)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        assert(IcebergLite.equalityDeleteMOR(spark, dir,
          (1L to 50L).flatMap(i => Seq(i, i)).toDF("id")) === 50L)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val deletes = IcebergLite.metaTable(spark, dir, "files")
        .filter(col("content") === 2).select("record_count").as[Long]
        .collect().toSeq
      assert(deletes === Seq(50L), s"AQE $aqe")
      assert(IcebergLite.readTable(spark, dir).count() === 150L)
    }
  }

  test("a keyed equality delete on a table with no data file only records its key") {
    val dir = tmp()
    IcebergLite.createEmptyTable(spark,
      batch1.toDF("id", "lang", "n").schema, dir)
    // nothing to delete, so the key columns are never resolved
    assert(IcebergLite.equalityDeleteMOR(spark, dir, Seq("x").toDF("nope"),
      Some("k1")) === 0L)
    assert(IcebergLite.snapshotIds(spark, dir) === Seq(1L, 2L))
    assert(IcebergLite.equalityDeleteMOR(spark, dir, Seq("x").toDF("nope"),
      Some("k1")) === 0L)
    assert(IcebergLite.snapshotIds(spark, dir) === Seq(1L, 2L))
  }

  test("every DataFrame write API records Iceberg's snapshot operation") {
    val dir = tmp()
    def op(): String = IcebergLite.metaTable(spark, dir, "snapshots")
      .orderBy(col("snapshot_id").desc).head().getAs[String]("operation")
    IcebergLite.createTable(spark, (batch1 ++ batch2).toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    assert(op() === "append")
    IcebergLite.appendSnapshot(spark, Seq((6L, "fr", 60L)).toDF("id", "lang", "n"),
      dir, partitionBy = Seq("lang"))
    assert(op() === "append")
    // the en file keeps ids 1 and 5: a survivor rewrite adds a data file
    assert(IcebergLite.deleteWhere(spark, dir, col("id") === 3L) === 1L)
    assert(op() === "overwrite")
    // the whole de file goes, nothing is rewritten
    assert(IcebergLite.deleteWhere(spark, dir, col("lang") === "de") === 1L)
    assert(op() === "delete")
    assert(IcebergLite.updateWhere(spark, dir, col("id") === 1L,
      Seq("n" -> lit(11L))) === 1L)
    assert(op() === "overwrite")
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("id") === 4L) === 1L)
    assert(op() === "delete")
    assert(IcebergLite.equalityDeleteMOR(spark, dir, Seq(5L).toDF("id")) === 1L)
    assert(op() === "delete")
    assert(IcebergLite.compactSmallFiles(spark, dir, 1L << 30) > 0L)
    assert(op() === "replace")
    IcebergLite.compact(spark, dir)
    assert(op() === "replace")
    assert(IcebergLite.readTable(spark, dir).select("id", "n").as[(Long, Long)]
      .collect().toSet === Set((1L, 11L), (6L, 60L)))
  }
}
