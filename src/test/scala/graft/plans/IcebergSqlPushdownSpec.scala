package graft.plans

import org.apache.spark.sql.GraftPlanShim
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.{Catalog, SparkSuite}
import graft.sources.{GraftNativeBatchScan, IcebergLite}

/** SQL scan planning for registered IcebergLite tables (V2 relations
  * over GraftIcebergTable, see Catalog.registerIcebergTable): a `WHERE`
  * on the registered name must
  * file-skip like the readTableWhere API (pinned via the optimized
  * plan's file count, never assumed), reads must follow the CURRENT
  * snapshot, and `FOR VERSION/TIMESTAMP AS OF` must time-travel. */
class IcebergSqlPushdownSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_iceberg_sql").toString + "/t"

  /** Three range-disjoint single-file appends over id 1..30. */
  private def rangedTable(): String = {
    val dir = tmp()
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"d$i", i * 10L)).toDF("id", "tag", "n")
        .coalesce(1)
    IcebergLite.createTable(spark, batch(1, 10), dir)
    IcebergLite.appendSnapshot(spark, batch(11, 20), dir)
    IcebergLite.appendSnapshot(spark, batch(21, 30), dir)
    dir
  }

  test("WHERE range on a registered view plans a pruned file set") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_prune_t", dir)
    val all = spark.sql("SELECT * FROM sql_prune_t")
    val ranged = spark.sql("SELECT * FROM sql_prune_t WHERE id >= 21")
    val total = IcebergSqlAudit.scannedFiles(all)
    val kept = IcebergSqlAudit.scannedFiles(ranged)
    assert(total == 3, s"expected 3 live files, planned $total")
    assert(kept == 1, s"id >= 21 must plan exactly the last file, got $kept")
    // and the result matches the API route
    val api = IcebergLite
      .readTableWhere(spark, dir, Seq(IcebergLite.GtEq("id", 21L)))
      .filter(col("id") >= 21)
    assert(ranged.collect().map(_.getLong(0)).sorted.toSeq ==
      api.collect().map(_.getLong(0)).sorted.toSeq)
    assert(ranged.count() == 10L)
  }

  test("strict and reversed comparisons, equality, and BETWEEN all prune") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_prune_ops", dir)
    def files(where: String): Int = IcebergSqlAudit.scannedFiles(
      spark.sql(s"SELECT count(*) AS c FROM sql_prune_ops WHERE $where"))
    assert(files("id > 25") == 1)          // strict relaxes to GtEq(25): only file 3's [21,30] admits it
    assert(files("id = 5") == 1)
    assert(files("25 <= id") == 1)
    assert(files("id BETWEEN 12 AND 14") == 1)
    assert(files("id < 5") == 1)
    // an unsupported conjunct prunes nothing extra but stays correct
    val mixed = spark.sql(
      "SELECT count(*) AS c FROM sql_prune_ops WHERE id >= 21 AND tag LIKE 'd2%'")
    assert(mixed.head().getLong(0) ==
      (21 to 30).count(i => s"d$i".startsWith("d2")))
  }

  test("strict > at the exact upper bound keeps the boundary file (superset rule)") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_prune_strict", dir)
    // id > 20 relaxes to GtEq(20); file 2's bounds [11,20] admit 20, so
    // it scans — pruning may keep extra files, never drop matching ones
    val df = spark.sql("SELECT * FROM sql_prune_strict WHERE id > 20")
    assert(IcebergSqlAudit.scannedFiles(df) <= 2)
    assert(df.count() == 10L)
  }

  test("IN lists, OR-of-equalities and InSet prune disjunctively") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_in_t", dir)
    def files(where: String): Int = IcebergSqlAudit.scannedFiles(
      spark.sql(s"SELECT count(*) AS c FROM sql_in_t WHERE $where"))
    // both values in file 1 → only file 1 scans
    assert(files("id IN (2, 7)") == 1)
    // values straddling files 1 and 3 → file 2 skips
    assert(files("id IN (2, 25)") == 2)
    assert(files("id = 2 OR id = 25") == 2)
    // a big IN (optimizer converts to InSet past the threshold)
    val big = (1 to 9).map(_.toString).mkString(", ")
    assert(files(s"id IN ($big, 10)") == 1)
    // NULL members drop (they can't match rows); pruning still holds
    assert(files("id IN (2, NULL, 7)") == 1)
    // results stay correct
    assert(spark.sql("SELECT count(*) AS c FROM sql_in_t WHERE id IN (2, 25)")
      .head().getLong(0) == 2L)
    // string IN through the tag column (bounds on truncated prefixes)
    assert(spark.sql(
      "SELECT count(*) AS c FROM sql_in_t WHERE tag IN ('d2', 'd25')")
      .head().getLong(0) == 2L)
  }

  test("LIKE 'prefix%' prunes through the string bounds") {
    val dir = tmp()
    // three files with disjoint tag prefixes: aXX / mXX / zXX
    def batch(p: String, lo: Int) =
      (lo until lo + 10).map(i => (i.toLong, s"$p$i")).toDF("id", "tag")
        .coalesce(1)
    IcebergLite.createTable(spark, batch("a", 0), dir)
    IcebergLite.appendSnapshot(spark, batch("m", 10), dir)
    IcebergLite.appendSnapshot(spark, batch("z", 20), dir)
    Catalog.registerIcebergTable(spark, "sql_like_t", dir)
    val q = spark.sql("SELECT count(*) AS c FROM sql_like_t WHERE tag LIKE 'm%'")
    assert(IcebergSqlAudit.scannedFiles(q) == 1,
      "prefix LIKE must plan only the m-file")
    assert(q.head().getLong(0) == 10L)
    // a mid-string wildcard cannot prune — and must stay correct
    val noPrune = spark.sql(
      "SELECT count(*) AS c FROM sql_like_t WHERE tag LIKE '%5'")
    assert(IcebergSqlAudit.scannedFiles(noPrune) == 3)
    assert(noPrune.head().getLong(0) == 3L) // a5, m15, z25
  }

  test("metadata tables register as __-suffixed SQL views, current per query") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_meta_t", dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_meta_t__snapshots")
      .head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) AS c FROM sql_meta_t__files")
      .head().getLong(0) == 3L)
    val refs = spark.sql(
      "SELECT name FROM sql_meta_t__refs ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(refs.contains("main"))
    // a new commit is visible without re-registration
    IcebergLite.appendSnapshot(spark,
      Seq((99L, "d99", 990L)).toDF("id", "tag", "n").coalesce(1), dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_meta_t__snapshots")
      .head().getLong(0) == 4L)
    // joins between the data view and a metadata view resolve
    assert(spark.sql(
      """SELECT count(*) AS c FROM sql_meta_t t
         JOIN sql_meta_t__files f ON f.record_count > 0""").head().getLong(0) > 0)
  }

  test("AnyOf prunes through the bloom leg on a non-sort column") {
    val dir = tmp()
    val n = 8000L
    val laid = spark.range(1, n + 1).toDF("doc_id")
      .withColumn("ts", pmod(col("doc_id") * 2654435761L, lit(100000L)))
    IcebergLite.createTable(spark, laid, dir,
      sortBy = Seq("ts"), sortFiles = 8, bloomFor = Seq("doc_id"))
    Catalog.registerIcebergTable(spark, "sql_bloom_in_t", dir)
    val q = spark.sql(
      s"SELECT count(*) AS c FROM sql_bloom_in_t WHERE doc_id IN ($n, ${n - 1})")
    val kept = IcebergSqlAudit.scannedFiles(q)
    assert(kept <= 4, s"bloom IN-pruning lost: planned $kept of 8")
    assert(q.head().getLong(0) == 2L)
  }

  test("a registered view reads the CURRENT snapshot each query") {
    val dir = tmp()
    IcebergLite.createTable(spark,
      Seq((1L, 1L)).toDF("id", "n"), dir)
    Catalog.registerIcebergTable(spark, "sql_current_t", dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_current_t").head().getLong(0) == 1L)
    IcebergLite.appendSnapshot(spark, Seq((2L, 2L), (3L, 3L)).toDF("id", "n"), dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_current_t").head().getLong(0) == 3L,
      "registration must not pin the snapshot")
  }

  test("VERSION AS OF and TIMESTAMP AS OF time-travel on the registered name") {
    val dir = tmp()
    IcebergLite.createTable(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    IcebergLite.appendSnapshot(spark, Seq((2L, "b")).toDF("id", "s"), dir)
    Catalog.registerIcebergTable(spark, "sql_tt_t", dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_tt_t").head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) AS c FROM sql_tt_t VERSION AS OF 1")
      .head().getLong(0) == 1L)
    assert(spark.sql(
      s"SELECT count(*) AS c FROM sql_tt_t TIMESTAMP AS OF $between")
      .head().getLong(0) == 1L)
    val local = new java.sql.Timestamp(between).toString
    assert(spark.sql(
      s"SELECT count(*) AS c FROM sql_tt_t FOR TIMESTAMP AS OF '$local'")
      .head().getLong(0) == 1L)
    // pushdown composes with time travel (same plan machinery)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM sql_tt_t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
    assert(e.getMessage.contains("no snapshot as of"))
    // named refs: VERSION AS OF 'tag' / 'branch' reads that head
    IcebergLite.createTag(spark, dir, "v1", Some(1L))
    assert(spark.sql("SELECT count(*) AS c FROM sql_tt_t VERSION AS OF 'v1'")
      .head().getLong(0) == 1L)
    val e2 = intercept[IllegalArgumentException](spark.sql(
      "SELECT * FROM sql_tt_t VERSION AS OF 'nope'"))
    assert(e2.getMessage.contains("neither a snapshot id nor a named ref"))
  }

  test("self-join of a registered view resolves (MultiInstanceRelation)") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_self_t", dir)
    val joined = spark.sql(
      """SELECT a.id FROM sql_self_t a JOIN sql_self_t b ON a.id = b.id + 1
         WHERE a.id >= 21 AND b.id >= 21""")
    assert(joined.count() == 9L)
  }

  test("aggregates and projections above the filter still prune") {
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_agg_t", dir)
    val agg = spark.sql(
      "SELECT sum(n) AS sn FROM sql_agg_t WHERE id >= 21")
    assert(IcebergSqlAudit.scannedFiles(agg) == 1)
    assert(agg.head().getLong(0) == (21 to 30).map(_ * 10L).sum)
  }

  test("hidden partitioning prunes SQL time ranges through day()") {
    val dir = tmp()
    val day = 86400000000L // micros
    val rows = (0 until 4).flatMap(d => (1 to 5).map(i =>
      (new java.sql.Timestamp((d * day + i * 1000000L) / 1000L), d * 5L + i)))
    IcebergLite.createTable(spark, rows.toDF("ts", "v"), dir,
      partitionBy = Seq("day:ts"))
    Catalog.registerIcebergTable(spark, "sql_hidden_t", dir)
    val total = IcebergSqlAudit.scannedFiles(
      spark.sql("SELECT * FROM sql_hidden_t"))
    val pruned = spark.sql(
      "SELECT count(*) AS c FROM sql_hidden_t " +
        "WHERE ts >= TIMESTAMP '1970-01-04 00:00:00+00:00'")
    assert(IcebergSqlAudit.scannedFiles(pruned) < total,
      "day() transform must file-skip the SQL time range")
    assert(pruned.head().getLong(0) == 5L)
  }

  test("MOR deletes apply on the SQL route") {
    val dir = rangedTable()
    IcebergLite.deleteWhereMOR(spark, dir, col("id") % 2 === 0L)
    Catalog.registerIcebergTable(spark, "sql_mor_t", dir)
    assert(spark.sql("SELECT count(*) AS c FROM sql_mor_t").head().getLong(0) == 15L)
    assert(spark.sql(
      "SELECT count(*) AS c FROM sql_mor_t WHERE id >= 21").head().getLong(0) == 5L)
  }

  test("the retained filter reaches the parquet scan: PushedFilters + pruned columns") {
    // the row filter must land in the scan (parquet row-group skipping)
    // and the read schema must shrink to the columns the query needs —
    // otherwise the SQL route pays full-width IO inside each surviving
    // file
    val dir = rangedTable()
    Catalog.registerIcebergTable(spark, "sql_pushed_t", dir)
    val df = spark.sql("SELECT n FROM sql_pushed_t WHERE id >= 21")
    val scans = GraftPlanShim.optimizedPlan(df).collect {
      case DataSourceV2ScanRelation(_, s: GraftNativeBatchScan, _, _, _) => s
    }
    assert(scans.size == 1, s"expected one native scan:\n$scans")
    val scan = scans.head
    assert(scan.readSchema().fieldNames.toSeq == Seq("id", "n"),
      s"read schema not pruned: ${scan.readSchema().simpleString}")
    assert(scan.description().contains("GreaterThanOrEqual(id,21)"),
      s"filter not pushed into the scan: ${scan.description()}")
    assert(scan.plannedFiles.size == 1)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (21 to 30).map(_ * 10L))
  }

  test("unregistered names and non-iceberg views are untouched") {
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("sql_plain_v")
    assert(spark.sql("SELECT a FROM sql_plain_v").count() == 1L)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM sql_plain_v VERSION AS OF 1").collect())
    assert(e != null) // Spark's own time-travel refusal, not graft's
  }
}
