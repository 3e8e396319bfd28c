package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The V2 TableCatalog facade (sources/GraftCatalog.scala): the
  * reference's DataFrameWriterV2 ingestion route
  * (`df.writeTo(t).using("iceberg").append()/.createOrReplace()`,
  * ingest_neutron_data.py:209-211) plus CREATE TABLE ... USING, CTAS,
  * history-preserving REPLACE, catalog-name SQL DML, time travel,
  * ALTER TABLE, SHOW TABLES — all through the native analyzer onto the
  * IcebergLite metadata chain. */
class GraftCatalogSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft_gcat_wh").toString
  spark.conf.set("spark.sql.catalog.gcat",
    classOf[GraftTableCatalog].getName)
  spark.conf.set("spark.sql.catalog.gcat.warehouse", warehouse)

  private def batch(ids: Range, lang: String = null) = ids
    .map(i => (i.toLong,
      Option(lang).getOrElse(if (i % 2 == 0) "a" else "b"), i * 10L))
    .toDF("id", "lang", "n")

  test("CREATE TABLE USING + writeTo.append: empty create, contract persists") {
    spark.sql(
      """CREATE TABLE gcat.wt1 (id BIGINT, lang STRING, n BIGINT)
         USING iceberg PARTITIONED BY (lang)
         TBLPROPERTIES ('sort-order' = 'id', 'bloom-columns' = 'id')""")
    assert(spark.table("gcat.wt1").count() === 0L)
    val dir = s"$warehouse/wt1"
    assert(IcebergLite.tablePartitionSpec(spark, dir) === Seq("lang"))
    assert(IcebergLite.tableSortOrder(spark, dir) === Seq("id"))
    // the reference's ingestion call, verbatim
    batch(1 to 10).writeTo("gcat.wt1").append()
    assert(spark.table("gcat.wt1").count() === 10L)
    assert(spark.sql("SELECT sum(n) AS s FROM gcat.wt1 WHERE lang = 'a'")
      .head().getLong(0) === (1 to 10).filter(_ % 2 == 0).map(_ * 10L).sum)
    // a second append inherits the persisted contract (spec survives)
    batch(11 to 14, "c").writeTo("gcat.wt1").append()
    assert(IcebergLite.tablePartitionSpec(spark, dir) === Seq("lang"))
    assert(IcebergLite.tableSortOrder(spark, dir) === Seq("id"))
    assert(IcebergLite.tableBloomCols(spark, dir) === Seq("id"))
    assert(spark.table("gcat.wt1").count() === 14L)
  }

  test("writeTo.create (CTAS route) with partitioning + properties") {
    batch(1 to 8).writeTo("gcat.wt2").using("iceberg")
      .partitionedBy(col("lang"))
      .tableProperty("sort-order", "id")
      .create()
    val dir = s"$warehouse/wt2"
    assert(spark.table("gcat.wt2").count() === 8L)
    assert(IcebergLite.tablePartitionSpec(spark, dir) === Seq("lang"))
    assert(IcebergLite.tableSortOrder(spark, dir) === Seq("id"))
    // create on an existing table refuses
    intercept[Exception] { batch(1 to 2).writeTo("gcat.wt2").create() }
    // SQL CTAS works the same way
    spark.sql("CREATE TABLE gcat.wt2b USING iceberg AS SELECT * FROM gcat.wt2")
    assert(spark.table("gcat.wt2b").count() === 8L)
  }

  test("createOrReplace preserves snapshot history") {
    batch(1 to 6).writeTo("gcat.wt3").using("iceberg").create()
    batch(7 to 9).writeTo("gcat.wt3").append()
    val dir = s"$warehouse/wt3"
    val before = IcebergLite.snapshotIds(spark, dir)
    // replace with a DIFFERENT shape — the reference's
    // .createOrReplace() call
    (1 to 4).map(i => (i.toLong, i * 1.5)).toDF("id", "score")
      .writeTo("gcat.wt3").using("iceberg").createOrReplace()
    assert(spark.table("gcat.wt3").columns.toSeq === Seq("id", "score"))
    assert(spark.table("gcat.wt3").count() === 4L)
    // every pre-replace snapshot is still on the chain and time-travels
    val after = IcebergLite.snapshotIds(spark, dir)
    assert(before.toSet.subsetOf(after.toSet))
    assert(spark.sql(
      s"SELECT count(*) AS c FROM gcat.wt3 VERSION AS OF ${before.last}")
      .head().getLong(0) === 9L)
  }

  test("catalog-name SQL DML: INSERT, UPDATE, DELETE, conditional MERGE") {
    spark.sql(
      """CREATE TABLE gcat.wt4 (id BIGINT, lang STRING, n BIGINT)
         USING iceberg PARTITIONED BY (lang)""")
    spark.sql("INSERT INTO gcat.wt4 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30)")
    assert(spark.table("gcat.wt4").count() === 3L)
    val nUpd = spark.sql(
      "UPDATE gcat.wt4 SET n = n + 1 WHERE id >= 2").head().getLong(0)
    assert(nUpd === 2L)
    val nDel = spark.sql(
      "DELETE FROM gcat.wt4 WHERE id = 1").head().getLong(0)
    assert(nDel === 1L)
    Seq((2L, "m", 500L), (9L, "m", 900L)).toDF("id", "lang", "n")
      .createOrReplaceTempView("gcat_src")
    val eff = spark.sql(
      """MERGE INTO gcat.wt4 t USING gcat_src s ON t.id = s.id
         WHEN MATCHED AND s.n > 100 THEN UPDATE SET n = s.n
         WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
    assert(eff === 2L)
    val got = spark.sql("SELECT id, n FROM gcat.wt4")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((2L, 500L), (3L, 31L), (9L, 900L)))
  }

  test("reads file-skip through pushed filters; time travel by snapshot and ref") {
    batch(1 to 100).writeTo("gcat.wt5").using("iceberg")
      .partitionedBy(col("lang"))
      .tableProperty("sort-order", "id")
      .create()
    val dir = s"$warehouse/wt5"
    // partition + bounds pruning: the pushed filters reach
    // readTableWhere (proven by the API-equivalent skip accounting)
    val (kept, total) = IcebergLite.scanFileCount(spark, dir,
      Seq(IcebergLite.EqTo("lang", "a"), IcebergLite.LtEq("id", 10L)))
    assert(kept < total)
    assert(spark.sql(
      "SELECT count(*) AS c FROM gcat.wt5 WHERE lang = 'a' AND id <= 10")
      .head().getLong(0) === 5L)
    batch(101 to 120).writeTo("gcat.wt5").append()
    IcebergLite.createTag(spark, dir, "v1", Some(1L))
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt5 VERSION AS OF 1")
      .head().getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt5 VERSION AS OF 'v1'")
      .head().getLong(0) === 100L)
    // overwrite-by-append route: truncate + write in one call
    batch(1 to 3).writeTo("gcat.wt5").overwrite(lit(true))
    assert(spark.table("gcat.wt5").count() === 3L)
    // history intact across the overwrite
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt5 VERSION AS OF 1")
      .head().getLong(0) === 100L)
  }

  test("catalog-route time ranges prune through days(ts) (java.sql and java.time filter values)") {
    val day = 86400000000L // micros
    (0 until 5).map(d => (new java.sql.Timestamp((d * day + 1000000L) / 1000L),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)), d.toLong))
      .toDF("ts", "d", "v")
      .writeTo("gcat.wt_days").using("iceberg")
      .partitionedBy(days(col("ts"))).create()
    val total = graft.plans.IcebergSqlAudit.scannedFiles(
      spark.sql("SELECT * FROM gcat.wt_days"))
    assert(total == 5, s"expected one file per day, planned $total")
    // spark.sql.datetime.java8API.enabled picks the filter values'
    // external form: java.sql.Timestamp/Date off, Instant/LocalDate on
    Seq("false", "true").foreach { java8 =>
      spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
      try {
        def check(where: String): Unit = {
          val q = spark.sql(s"SELECT count(*) AS c FROM gcat.wt_days WHERE $where")
          val kept = graft.plans.IcebergSqlAudit.scannedFiles(q)
          assert(kept == 2, s"java8API=$java8, $where: planned $kept of $total")
          assert(q.head().getLong(0) === 2L)
        }
        check("ts >= TIMESTAMP '1970-01-04 00:00:00+00:00'") // day() transform
        check("d >= DATE '1970-01-04'")                      // date bounds
      } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
  }

  test("a filter on a nested struct field scans instead of throwing") {
    spark.sql("""SELECT 1L AS id, named_struct('x', 3, 'y', 'a') AS s
                 UNION ALL SELECT 2L, named_struct('x', 4, 'y', 'b')""")
      .writeTo("gcat.wt_nested").using("iceberg").create()
    graft.Catalog.registerIcebergTable(spark, "gcat_nested_v",
      s"$warehouse/wt_nested")
    Seq("gcat.wt_nested", "gcat_nested_v").foreach { t =>
      val got = spark.sql(s"SELECT id FROM $t WHERE s.x = 3")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(1L), s"$t: $got")
    }
  }

  test("maintenance procedures run as CALL gcat.system.<proc>(...)") {
    batch(1 to 6).writeTo("gcat.wt9").using("iceberg").create()
    batch(7 to 9).writeTo("gcat.wt9").append()
    batch(10 to 12).writeTo("gcat.wt9").append()
    val dir = s"$warehouse/wt9"
    // tag then rollback to snapshot 2, fast-forward back via a branch
    spark.sql("CALL gcat.system.create_tag(`table` => 'wt9', name => 'v2', snapshot_id => 2)")
    assert(IcebergLite.tableRefs(spark, dir).contains("v2"))
    val rolled = spark.sql(
      "CALL gcat.system.rollback_to_snapshot(`table` => 'wt9', snapshot_id => 2)")
      .head().getLong(0)
    assert(rolled === 2L)
    assert(spark.table("gcat.wt9").count() === 9L)
    // compact the small files: rewrites the live set, content preserved
    val rewritten = spark.sql(
      "CALL gcat.system.rewrite_data_files(`table` => 'wt9')")
      .head().getLong(0)
    assert(rewritten >= 1L)
    assert(spark.table("gcat.wt9").count() === 9L)
    // expire history down to the current lineage tail
    val kept = spark.sql(
      "CALL gcat.system.expire_snapshots(`table` => 'wt9', keep_last => 1)")
      .head().getLong(0)
    // the tag's snapshot is never purged; at least the head remains
    assert(kept >= 1L)
    assert(spark.table("gcat.wt9").count() === 9L)
    // orphan scan returns a row per removed path (possibly none)
    spark.sql("CALL gcat.system.remove_orphan_files(`table` => 'wt9')")
      .collect()
    // unknown procedure refuses with the catalog of known names
    val e = intercept[Exception] {
      spark.sql("CALL gcat.system.nope(`table` => 'wt9')")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("metadata tables resolve as <table>__<kind> catalog names") {
    batch(1 to 6).writeTo("gcat.wt8").using("iceberg").create()
    batch(7 to 9).writeTo("gcat.wt8").append()
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt8__snapshots")
      .head().getLong(0) === 2L)
    assert(spark.sql(
      "SELECT count(*) AS c FROM gcat.wt8__files WHERE content = 0")
      .head().getLong(0) >= 2L)
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt8__history")
      .head().getLong(0) === 2L)
    // refs: main always present
    assert(spark.sql("SELECT name FROM gcat.wt8__refs").collect()
      .map(_.getString(0)).contains("main"))
    // current AS OF EACH QUERY: a third append shows up without
    // re-resolving anything
    batch(10 to 10).writeTo("gcat.wt8").append()
    assert(spark.sql("SELECT count(*) AS c FROM gcat.wt8__snapshots")
      .head().getLong(0) === 3L)
    // time travel on a metadata table refuses with a real message
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.wt8__snapshots VERSION AS OF 1")
        .collect()
    }
    assert(e.getMessage.contains("do not time-travel"))
  }

  test("overwritePartitions replaces only the touched partitions") {
    batch(1 to 12).writeTo("gcat.wt7").using("iceberg")
      .partitionedBy(col("lang")).create()
    // new rows only for lang 'a' (even ids) — 'b' must survive intact
    (101 to 103).map(i => (i.toLong, "a", i * 10L)).toDF("id", "lang", "n")
      .writeTo("gcat.wt7").overwritePartitions()
    val got = spark.sql(
      "SELECT lang, count(*) AS c, sum(n) AS s FROM gcat.wt7 GROUP BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      ("a", 3L, (101 to 103).map(_ * 10L).sum),
      ("b", 6L, (1 to 12).filter(_ % 2 == 1).map(_ * 10L).sum)))
  }

  test("ALTER TABLE add/rename/widen; SHOW TABLES; DROP TABLE") {
    batch(1 to 4).writeTo("gcat.wt6").using("iceberg").create()
    spark.sql("ALTER TABLE gcat.wt6 ADD COLUMN score DOUBLE")
    spark.sql("ALTER TABLE gcat.wt6 RENAME COLUMN n TO chars")
    assert(spark.table("gcat.wt6").columns.toSeq ===
      Seq("id", "lang", "chars", "score"))
    // pre-evolution rows read the renamed column by field id, NULL score
    assert(spark.sql("SELECT sum(chars) AS s FROM gcat.wt6")
      .head().getLong(0) === (1 to 4).map(_ * 10L).sum)
    val shown = spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).toSet
    assert(shown.contains("wt6"))
    spark.sql("DROP TABLE gcat.wt6")
    assert(!spark.catalog.tableExists("gcat.wt6"))
  }
}
