package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftParquetShim, GraftPlanShim,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.{Catalog, SparkSuite}

/** One table state per statement ([[GraftIcebergTable]]): a statement
  * reads the table metadata at most once, the held state follows the
  * version hint, and a commit never publishes over a commit it did not
  * see. */
class TableStateSpec extends SparkSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_state_wh").toString

  /** `bare`: a session with no graft extensions; else the suite's. */
  private def session(bare: Boolean): SparkSession = {
    val s = if (bare) GraftParquetShim.bareSession(spark) else spark
    s.conf.set("spark.sql.catalog.scat", classOf[GraftTableCatalog].getName)
    s.conf.set("spark.sql.catalog.scat.warehouse", wh)
    s
  }

  /** A partitioned, sorted 1,000-row table `scat.<t>`, also registered
    * as `<t>_reg`, and a 10-row source view `<t>_src`. */
  private def table(s: SparkSession, t: String): Unit = {
    s.sql(s"""CREATE TABLE scat.$t (id BIGINT, lang STRING, n BIGINT)
              USING iceberg PARTITIONED BY (lang)
              TBLPROPERTIES ('sort-order' = 'id')""")
    s.range(0, 1000)
      .selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS lang", "id AS n")
      .writeTo(s"scat.$t").append()
    Catalog.registerIcebergTable(s, s"${t}_reg", s"$wh/$t")
    s.range(995, 1005).selectExpr("id", "'c' AS lang", "id AS n")
      .createOrReplaceTempView(s"${t}_src")
  }

  /** Full metadata reads each statement makes, by statement. */
  private def reads(s: SparkSession, name: String, src: String,
                    statements: Seq[String]): Seq[(String, Long)] = {
    val sql = Map(
      "SELECT" -> s"SELECT count(*) FROM $name WHERE n > 5",
      "INSERT" -> s"INSERT INTO $name VALUES (5000, 'a', 1)",
      "INSERT OVERWRITE" -> s"INSERT OVERWRITE $name SELECT * FROM $src",
      "DELETE" -> s"DELETE FROM $name WHERE id = 996",
      "UPDATE" -> s"UPDATE $name SET n = n + 1 WHERE id = 997",
      "MERGE" -> (s"MERGE INTO $name t USING $src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET n = s.n + 1 " +
        "WHEN NOT MATCHED THEN INSERT *"))
    statements.map { st =>
      val before = IcebergLite.metaReads.get
      s.sql(sql(st)).collect()
      st -> (IcebergLite.metaReads.get - before)
    }
  }

  test("each SQL statement reads the table metadata at most once, on either name kind") {
    val all = Seq("SELECT", "INSERT", "INSERT OVERWRITE", "DELETE", "UPDATE",
      "MERGE")
    val bare = session(bare = true)
    table(bare, "rc_bare")
    // Spark's analyzer refuses row-level DML on a temp view: without the
    // extensions a registered name takes reads and inserts only
    val counts =
      reads(bare, "scat.rc_bare", "rc_bare_src", all) ++
        reads(bare, "rc_bare_reg", "rc_bare_src", all.take(3))
    assert(counts.size === 9 && counts.forall(_._2 <= 1L), counts)
    // with the extensions, IcebergRowLevelCommand reads the `snapshots`
    // metadata table before and after the statement for its count: 2
    // reads of its own on top of the statement's
    val ext = session(bare = false)
    table(ext, "rc_ext")
    val extCounts =
      reads(ext, "scat.rc_ext", "rc_ext_src", all) ++
        reads(ext, "rc_ext_reg", "rc_ext_src", all)
    val dml = Set("DELETE", "UPDATE", "MERGE")
    assert(extCounts.forall { case (st, n) =>
      n <= (if (dml(st)) 3L else 1L) }, extCounts)
  }

  test("a DataFrame over either name kind sees later commits; a pinned read does not move") {
    val s = session(bare = false)
    for ((kind, other) <- Seq(("catalog", "registered"),
                              ("registered", "catalog"))) {
      val t = s"fresh_$kind"
      val dir = s"$wh/$t"
      s.sql(s"CREATE TABLE scat.$t (id BIGINT, v STRING) USING iceberg")
      s.sql(s"INSERT INTO scat.$t VALUES (1, 'a'), (2, 'b')")
      Catalog.registerIcebergTable(s, s"${t}_reg", dir)
      def nameOf(k: String) = if (k == "catalog") s"scat.$t" else s"${t}_reg"
      val df = s.table(nameOf(kind))
      val first = IcebergLite.snapshotIds(s, dir).last
      val pinned = s.sql(s"SELECT * FROM scat.$t VERSION AS OF $first")
      def ids(d: DataFrame) = d.select("id").as[Long].collect().sorted.toSeq
      assert(ids(df) === Seq(1L, 2L) && ids(pinned) === Seq(1L, 2L))
      IcebergLite.appendSnapshot(s, Seq((3L, "c")).toDF("id", "v"), dir)
      s.sql(s"INSERT INTO ${nameOf(other)} VALUES (4, 'd')")
      s.sql(s"ALTER TABLE scat.$t ADD COLUMN extra STRING")
      assert(ids(df) === Seq(1L, 2L, 3L, 4L), kind)
      assert(df.count() === 4L, kind)
      assert(ids(pinned) === Seq(1L, 2L), kind)
      // a name registered before the schema change still refuses writes
      val e = intercept[Exception](
        s.sql(s"INSERT INTO ${t}_reg VALUES (5, 'e')"))
      assert(e.getMessage.contains("register the name again"), e.getMessage)
    }
  }

  test("a registered name over a recreated table reads and writes the new table") {
    val dir = s"$wh/recreated"
    IcebergLite.createEmptyTable(spark,
      Seq((0L, "")).toDF("id", "v").schema, dir)
    Catalog.registerIcebergTable(spark, "recreated_reg", dir)
    def ids(): Seq[Long] =
      spark.sql("SELECT id FROM recreated_reg").as[Long].collect().sorted.toSeq
    assert(ids() === Nil)
    // the directory starts again at v1, the version the name holds
    IcebergLite.createTable(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir)
    assert(IcebergLite.snapshotIds(spark, dir) === Seq(1L))
    assert(ids() === Seq(1L, 2L))
    spark.sql("INSERT INTO recreated_reg VALUES (3, 'c')")
    spark.sql("DELETE FROM recreated_reg WHERE id = 1")
    assert(ids() === Seq(2L, 3L))
    assert(IcebergLite.readTable(spark, dir).select("id").as[Long].collect()
      .sorted.toSeq === Seq(2L, 3L))
  }

  test("a commit on a stale base publishes on the metadata the hint names") {
    val dir = s"$wh/stale_base"
    IcebergLite.createTable(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val base = IcebergLite.readMeta(spark, dir)
    val schema = IcebergLite.declaredSchema(base)
    val files = IcebergLite.dataWriterFactory(spark, base,
      s"$dir/data/s${base.nextSnapshotId}-w", schema)
      .writeTask(0, 0L, Iterator(InternalRow(2L, UTF8String.fromString("b"))))
    // another writer commits after the base was read
    IcebergLite.appendSnapshot(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    IcebergLite.commitWrite(spark, base, files)
    assert(IcebergLite.readTable(spark, dir).select("id").as[Long].collect()
      .sorted.toSeq === Seq(1L, 2L, 3L))
    assert(IcebergLite.snapshotIds(spark, dir) === Seq(1L, 2L, 3L))
  }

  test("a metadata table scans as local rows: no job") {
    val s = session(bare = false)
    s.sql("CREATE TABLE scat.mt (id BIGINT) USING iceberg")
    s.sql("INSERT INTO scat.mt VALUES (1), (2)")
    val q = s.sql("SELECT * FROM scat.mt__snapshots")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.startsWith("LocalTableScan"), plan)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = IcebergLite.metaReads.get
      val got = s.sql("SELECT * FROM scat.mt__snapshots").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((1L, "append"), (2L, "append")))
      // at most the relation's schema, then the scan's rows
      assert(IcebergLite.metaReads.get - before <= 2L)
      GraftPlanShim.drainListeners(spark)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("copy-on-write match scans push their predicate; NULL rows stay unmatched") {
    val dir = s"$wh/cow_push"
    val rows = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "a"))
    IcebergLite.createTable(spark, rows.toDF("id", "lang"), dir)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      val plans = mutable.ArrayBuffer.empty[String]
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(IcebergLite.deleteWhere(spark, dir, col("lang") === "a") === 2L)
      GraftPlanShim.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    val plans = listener.plans.synchronized(listener.plans.toList)
    assert(plans.exists(p => p.contains("GraftNativeScan") &&
      """PushedFilters: \[[^\]]*EqualTo\(lang,a\)""".r.findFirstIn(p)
        .nonEmpty), plans.mkString("\n---\n"))
    assert(IcebergLite.deleteWhereMOR(spark, dir, col("lang") === "b") === 1L)
    assert(IcebergLite.readTable(spark, dir).select("id").as[Long].collect()
      .toSeq === Seq(3L))
  }
}
