package graft.sources

import org.apache.spark.sql.{DataFrame, GraftParquetShim}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.SparkSuite

/** The NATIVE V2 read/write path (GraftNativeScan / GraftNativeWrite /
  * SupportsRowLevelOperations): value-equality with a direct
  * IcebergLite read, storage-partitioned joins with ZERO Exchange, and
  * stock-analyzer row-level DML (position deltas) with NO graft session
  * extensions installed. */
class GraftNativeSpec extends SparkSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_native_wh").toString
  spark.conf.set("spark.sql.catalog.ncat",
    classOf[GraftTableCatalog].getName)
  spark.conf.set("spark.sql.catalog.ncat.warehouse", wh)

  /** A catalog table read through the IcebergLite DataFrame reader: the
    * same native scan and delete rule, planned from the DataFrame API
    * instead of the catalog. */
  private def lite(table: String): DataFrame =
    IcebergLite.readTable(spark, s"$wh/$table")

  private def docs(n: Int) = (1 to n)
    .map(i => (i.toLong, s"w${i % 7}", s"body $i ${"x" * (i % 13)}",
      i * 3L))
    .toDF("id", "lang", "body", "n")

  test("native scan matches the V1 route: identity + bucket partitions, filters, pruning") {
    spark.sql("""CREATE TABLE ncat.nat_docs (id BIGINT, lang STRING,
                 body STRING, n BIGINT) USING iceberg
                 PARTITIONED BY (lang, bucket(4, id))""")
    docs(500).writeTo("ncat.nat_docs").append()
    docs(500).where(col("id") % 5 === 0)
      .withColumn("n", col("n") + 1000L)
      .writeTo("ncat.nat_docs").append()

    def readAll(t: DataFrame): Seq[(Long, String, Long)] =
      t.filter(col("id") <= 400 && col("lang") =!= "w3")
        .select(col("id"), col("lang"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    val native = readAll(spark.table("ncat.nat_docs"))
    assert(native === readAll(IcebergLite.readTableWhere(spark,
      s"$wh/nat_docs", Seq(IcebergLite.LtEq("id", 400L)))))
    // the written frames' rows, filtered in plain Scala
    val written = (1 to 500).map(i => (i.toLong, s"w${i % 7}", i * 3L)) ++
      (1 to 500).filter(_ % 5 == 0).map(i => (i.toLong, s"w${i % 7}", i * 3L + 1000L))
    assert(native === written.filter(r => r._1 <= 400 && r._2 != "w3").sorted)
    // the native route actually engaged (plan shape, not just values)
    val plan = spark.table("ncat.nat_docs").queryExecution.executedPlan
    assert(plan.toString.contains("GraftNativeScan"),
      s"expected the native batch scan in:\n$plan")
    // column pruning reaches the scan: a two-column projection reads
    // a two-column schema
    val pruned = spark.table("ncat.nat_docs").select("id", "n")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("GraftNativeScan"))
    assert(pruned.collect().length === 600)
  }

  test("storage-partitioned join: bucket(8) ⋈ bucket(8) runs with ZERO Exchange") {
    spark.sql("""CREATE TABLE ncat.spj_a (id BIGINT, v BIGINT)
                 USING iceberg PARTITIONED BY (bucket(8, id))""")
    spark.sql("""CREATE TABLE ncat.spj_b (id BIGINT, w BIGINT)
                 USING iceberg PARTITIONED BY (bucket(8, id))""")
    (1 to 2000).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .writeTo("ncat.spj_a").append()
    (1 to 2000).map(i => (i.toLong, i * 5L)).toDF("id", "w")
      .writeTo("ncat.spj_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // grouping opt-in (default false; see GraftNativeScan.spjMode)
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // a deterministic (non-adaptive) plan so the Exchange audit reads
      // the actual physical tree
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.table("ncat.spj_a")
        .join(spark.table("ncat.spj_b"), "id")
        .agg(sum(col("v") + col("w")).as("s"), count(lit(1)).as("c"))
      val row = joined.head()
      assert(row.getLong(0) === (1 to 2000).map(i => i * 7L).sum)
      assert(row.getLong(1) === 2000L)
      // the join subtree must be Exchange-free: both sides report the
      // same bucket(8, id) KeyGroupedPartitioning, so EnsureRequirements
      // plans the storage-partitioned join with NO shuffle on either
      // side (the aggregate above it may still shuffle — that is its
      // own cost, not the join's)
      val smj = joined.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty,
        s"expected a sort-merge join in:\n${joined.queryExecution.executedPlan}")
      val shuffles = smj.head.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"the bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
    } finally saved.foreach { // None = was unset: restore by UNSET
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SPJ skew: partially-clustered distribution splits a multi-file partition") {
    // r18/r19 carried item: the scan used to PRE-group files one
    // InputPartition per tuple, so a hot partition was structurally one
    // mega-task. Per-file reporting keeps the default grouped plan
    // identical and lets Spark's partially-clustered machinery split
    // the many-files side of a skewed storage-partitioned join.
    spark.sql("""CREATE TABLE ncat.spj_skew_a (id BIGINT, v BIGINT)
                 USING iceberg PARTITIONED BY (bucket(4, id))""")
    spark.sql("""CREATE TABLE ncat.spj_skew_b (id BIGINT, w BIGINT)
                 USING iceberg PARTITIONED BY (bucket(4, id))""")
    // side A: 6 appends → 6 files per bucket tuple (every tuple "hot")
    (0 until 6).foreach { i =>
      (1 to 500).map(j => (j.toLong, (i * 1000 + j).toLong)).toDF("id", "v")
        .writeTo("ncat.spj_skew_a").append()
    }
    (1 to 500).map(j => (j.toLong, j * 5L)).toDF("id", "w")
      .writeTo("ncat.spj_skew_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val pcd =
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
    val savedPcd = spark.conf.getOption(pcd)
    def run(split: Boolean): (Long, Long, Int) = {
      spark.conf.set(pcd, split.toString)
      val tasks = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          tasks.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val j = spark.table("ncat.spj_skew_a")
          .join(spark.table("ncat.spj_skew_b"), "id")
          .agg(sum(col("v") + col("w")).as("s"), count(lit(1)).as("c"))
        val row = j.head()
        // the join subtree stays Exchange-free in BOTH modes
        val smj = j.queryExecution.executedPlan.collect {
          case x: org.apache.spark.sql.execution.joins.SortMergeJoinExec => x
        }
        assert(smj.nonEmpty)
        assert(smj.head.collect {
          case e: ShuffleExchangeExec => e }.isEmpty,
          s"split=$split shuffled:\n${j.queryExecution.executedPlan}")
        Thread.sleep(500)
        (row.getLong(0), row.getLong(1), tasks.get())
      } finally spark.sparkContext.removeSparkListener(l)
    }
    try {
      val (s1, c1, tGrouped) = run(split = false)
      val (s2, c2, tSplit) = run(split = true)
      assert((s1, c1) === ((s2, c2)))
      assert(c1 === 3000L) // 6 copies of each id match once
      // partially-clustered: the 6-file tuples no longer collapse into
      // one task per tuple — the scan-join stage runs MORE tasks
      assert(tSplit > tGrouped,
        s"partially-clustered did not split (grouped=$tGrouped, split=$tSplit)")
    } finally {
      (saved :+ (pcd -> savedPcd)).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("columnar handoff matrix: temporal/decimal/partition-heavy schemas stay columnar") {
    // supportBatch declines schemas silently — pin that the common
    // non-trivial shapes keep ColumnarBatch handoff (and that the
    // fallback, when it happens, is at least logged — see
    // createReaderFactory)
    spark.sql("""CREATE TABLE ncat.col_mat (id BIGINT, ts TIMESTAMP,
                 d DATE, amt DECIMAL(12,2), lang STRING, n INT)
                 USING iceberg PARTITIONED BY (lang, bucket(4, id))""")
    (1 to 300).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2031-01-01 00:0${i % 6}:00"),
        java.sql.Date.valueOf("2031-03-15"),
        new java.math.BigDecimal(s"${i}.25"), s"w${i % 3}", i))
      .toDF("id", "ts", "d", "amt", "lang", "n")
      .writeTo("ncat.col_mat").append()
    def q = agg(spark.table("ncat.col_mat"))
    def agg(t: DataFrame) = t
      .filter(col("id") <= 200)
      .groupBy("lang")
      .agg(sum(col("amt")).as("s"), max(col("ts")).as("m"),
        min(col("d")).as("dd"), sum(col("n")).as("sn"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q.queryExecution.executedPlan
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty, s"no BatchScan in:\n$plan")
      assert(scans.head.supportsColumnar,
        s"temporal/decimal/partitioned schema fell back to rows:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    def rows(t: DataFrame) = t.collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getTimestamp(2),
        r.getDate(3).toString, r.getLong(4))).sortBy(_._1).toSeq
    val got = rows(q)
    assert(got === rows(agg(lite("col_mat"))))
    assert(got.length === 3)
  }

  test("native row-level DML: DELETE / UPDATE / MERGE through the stock analyzer, NO extensions") {
    // the third-party-tool twin: a bare session with NO graft parser /
    // rules — DML must resolve through SupportsRowLevelOperations alone
    val bare = GraftParquetShim.bareSession(spark)
    bare.conf.set("spark.sql.catalog.ncat",
      classOf[GraftTableCatalog].getName)
    bare.conf.set("spark.sql.catalog.ncat.warehouse", wh)
    bare.sql("""CREATE TABLE ncat.nat_dml (id BIGINT, lang STRING,
                n BIGINT) USING iceberg PARTITIONED BY (lang)""")
    bare.range(1, 101)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS lang",
        "id * 10 AS n")
      .writeTo("ncat.nat_dml").append()

    // UPDATE and a subquery DELETE: position deltas through WriteDelta
    bare.sql("UPDATE ncat.nat_dml SET n = n + 1 WHERE id <= 10")
    bare.sql("""DELETE FROM ncat.nat_dml WHERE id IN
                (SELECT id * 2 FROM ncat.nat_dml WHERE id <= 5)""")
    // MERGE: the full upsert through the stock analyzer
    bare.range(95, 106)
      .selectExpr("id", "'c' AS lang", "id * 100 AS n")
      .createOrReplaceTempView("nat_dml_src")
    bare.sql("""MERGE INTO ncat.nat_dml t USING nat_dml_src s
                ON t.id = s.id
                WHEN MATCHED THEN UPDATE SET n = s.n
                WHEN NOT MATCHED THEN INSERT *""")

    val got = bare.sql(
      "SELECT id, lang, n FROM ncat.nat_dml ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // expected state, derived independently
    val afterUpdate = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", i * 10 + (if (i <= 10) 1 else 0)))
    val afterDelete = afterUpdate.filterNot { case (i, _, _) =>
      Seq(2L, 4L, 6L, 8L, 10L).contains(i) }
    val merged = afterDelete.map { case (i, l, n) =>
      if (i >= 95 && i <= 105) (i, l, i * 100) else (i, l, n)
    } ++ (101L to 105L).map(i => (i, "c", i * 100))
    assert(got.toSeq === merged.sortBy(_._1))

    // each statement committed as ONE snapshot
    val snaps = bare.table("ncat.nat_dml__snapshots")
      .select("operation").collect().map(_.getString(0))
    // create-empty + append + update + delete + merge = 5 commits
    assert(snaps.length === 5, snaps.mkString(", "))
  }

  test("native MERGE writes a position delta: every data file stays, one delete manifest lands") {
    // a MERGE rewrites no data file: the matched rows' positions go to
    // a position-delete file and their new versions to a new data file,
    // in ONE snapshot — every prior data file of every partition must
    // survive BY PATH
    val bare = GraftParquetShim.bareSession(spark)
    bare.conf.set("spark.sql.catalog.ncat",
      classOf[GraftTableCatalog].getName)
    bare.conf.set("spark.sql.catalog.ncat.warehouse", wh)
    bare.sql("""CREATE TABLE ncat.nat_rgf (id BIGINT, lang STRING,
                n BIGINT) USING iceberg PARTITIONED BY (lang)""")
    bare.range(0, 300)
      .selectExpr("id", "element_at(array('a','b','c'), " +
        "CAST(id % 3 + 1 AS INT)) AS lang", "id * 10 AS n")
      .writeTo("ncat.nat_rgf").append()
    val dir = s"$wh/nat_rgf"
    def liveFiles = IcebergLite.metaTable(spark, dir, "files")
      .filter(col("content") === 0)
      .select("file_path").collect().map(_.getString(0)).toSet
    val before = liveFiles
    assert(before.exists(_.contains("lang=a")) &&
      before.exists(_.contains("lang=b")))
    // the source matches ONLY lang='a' rows (ids ≡ 0 mod 3)
    bare.range(0, 100).selectExpr("id * 3 AS id", "id AS m")
      .createOrReplaceTempView("nat_rgf_src")
    bare.sql("""MERGE INTO ncat.nat_rgf t USING nat_rgf_src s
                ON t.id = s.id
                WHEN MATCHED THEN UPDATE SET n = s.m""")
    val after = liveFiles
    assert(before.subsetOf(after), "a data file was rewritten")
    assert((after -- before).forall(_.contains("lang=a")),
      "the updated rows landed outside their partition")
    val head = IcebergLite.snapshotIds(spark, dir).last
    assert(IcebergLite.metaTable(spark, dir, "manifests")
      .filter(col("added_snapshot_id") === head).select("content")
      .collect().map(_.getInt(0)).toSet === Set(0, 1))
    // the statement's counts ride the snapshot summary, readable here too
    val summary = bare.table("ncat.nat_rgf__snapshots")
      .filter(col("snapshot_id") === head)
      .select("updated_rows", "deleted_rows", "inserted_rows").head()
    assert((summary.getLong(0), summary.getLong(1), summary.getLong(2)) ===
      ((100L, 0L, 0L)))
    val got = bare.sql(
      "SELECT sum(n) AS s FROM ncat.nat_rgf WHERE lang = 'a'")
      .head().getLong(0)
    assert(got === (0 until 100).map(_.toLong).sum)
    assert(bare.sql("SELECT count(*) AS c FROM ncat.nat_rgf")
      .head().getLong(0) === 300L)
  }

  test("manifest-accounted statistics: a KB dimension auto-broadcasts on the native route") {
    spark.sql("""CREATE TABLE ncat.stat_fact (id BIGINT, k BIGINT, v BIGINT)
                 USING iceberg""")
    spark.sql("""CREATE TABLE ncat.stat_dim (k BIGINT, name STRING)
                 USING iceberg""")
    spark.range(0, 50000)
      .selectExpr("id", "id % 100 AS k", "id * 2 AS v")
      .writeTo("ncat.stat_fact").append()
    spark.range(0, 100).selectExpr("id AS k", "concat('n', id) AS name")
      .writeTo("ncat.stat_dim").append()

    def joinPlan() = {
      val j = spark.table("ncat.stat_fact")
        .join(spark.table("ncat.stat_dim"), "k")
        .groupBy("name").agg(sum(col("v")).as("s"))
      j.count()
      j.queryExecution.executedPlan
    }
    // the dim's manifest-accounted size is far below the broadcast
    // threshold, so the join must plan as a BroadcastHashJoin (without
    // estimateStatistics both sides report defaultSizeInBytes ≈ ∞ and
    // this planned a two-sided sort-merge join). NOTE the pin is the
    // NATIVE route: the V1 fallback's stats are structurally hidden by
    // Spark's V1ScanWrapper (it does not forward
    // SupportsReportStatistics), so that route keeps the conservative
    // default — documented in OPTIMIZATION_r19.md.
    val bhj = joinPlan().toString
    assert(bhj.contains("BroadcastHashJoin"),
      s"expected a broadcast join in:\n$bhj")
    // and the estimate is honest: disabling auto-broadcast must fall
    // back to a shuffle join (proves the stats are a real number, not
    // just 0/"always broadcast")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = joinPlan().toString
      assert(!smj.contains("BroadcastHashJoin"),
        s"threshold -1 must not broadcast:\n$smj")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("columnar handoff: the native scan hands ColumnarBatches to the operator tree") {
    spark.sql("""CREATE TABLE ncat.col_scan (id BIGINT, lang STRING,
                 n BIGINT) USING iceberg PARTITIONED BY (lang)""")
    docs(300).select("id", "lang", "n").writeTo("ncat.col_scan").append()
    def agg(t: DataFrame) =
      t.filter(col("id") <= 200).groupBy("lang").agg(sum(col("n")).as("s"))
    def q = agg(spark.table("ncat.col_scan"))
    // plan: the BatchScan reports columnar support, so Spark inserts
    // ColumnarToRow above it instead of the scan unwrapping batches
    // row-by-row itself (AQE off for the assertion — its wrapper hides
    // the subtree from collect)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q.queryExecution.executedPlan
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.nonEmpty, s"no BatchScan in:\n$plan")
      assert(scans.head.supportsColumnar,
        s"native scan did not advertise columnar reads:\n$plan")
      assert(plan.toString.contains("ColumnarToRow"),
        s"no ColumnarToRow above the scan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // values: identical to a direct IcebergLite read (identity partition
    // column re-attachment included, since lang is a partition column)
    def rows(t: DataFrame) =
      t.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val got = rows(q)
    assert(got === rows(agg(lite("col_scan"))))
    assert(got.nonEmpty)
  }

  test("runtime file pruning engages on an ordinary fact⋈dim join (DPP)") {
    // day-partitioned fact, selective dim filter: Spark's PartitionPruning
    // hands the dim's matched day values to the scan's
    // SupportsRuntimeV2Filtering, which must shrink the planned file set
    // — at 100 TB the difference between reading one day and the table
    spark.sql("""CREATE TABLE ncat.dpp_fact (id BIGINT, day BIGINT,
                 v BIGINT) USING iceberg PARTITIONED BY (day)""")
    spark.sql("""CREATE TABLE ncat.dpp_dim (day BIGINT, tag STRING)
                 USING iceberg""")
    spark.range(0, 10000)
      .selectExpr("id", "id % 10 AS day", "id * 2 AS v")
      .writeTo("ncat.dpp_fact").append()
    spark.range(0, 10).selectExpr("id AS day", "concat('t', id) AS tag")
      .writeTo("ncat.dpp_dim").append()

    def recordsRead(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } // let the listener bus drain
      finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    var planStr = ""
    val pruned = recordsRead {
      val q = spark.table("ncat.dpp_fact")
        .join(spark.table("ncat.dpp_dim").filter(col("tag") === "t3"), "day")
        .agg(sum(col("v")))
      val got = q.head().getLong(0)
      planStr = q.queryExecution.executedPlan.toString
      assert(got === (0 until 10000).filter(_ % 10 == 3).map(_ * 2L).sum)
    }
    // one of ten days + the dim itself: far below a full fact read
    assert(pruned < 10000 / 2,
      s"runtime filtering did not prune the fact read (records=$pruned)\n$planStr")
  }

  test("COUNT(*)/MIN/MAX answer from metadata: zero file records read; filtered/MOR/string aggregates scan") {
    spark.sql("""CREATE TABLE ncat.cnt_t (id BIGINT, day BIGINT)
                 USING iceberg PARTITIONED BY (day)""")
    spark.range(0, 7777).selectExpr("id", "id % 5 AS day")
      .writeTo("ncat.cnt_t").append()

    def recordsRead(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    // clean table: the count comes from manifest accounting — no task
    // may read a single file record
    val n1 = recordsRead {
      assert(spark.sql("SELECT count(*) FROM ncat.cnt_t")
        .head().getLong(0) === 7777L)
    }
    assert(n1 === 0L, s"metadata count read $n1 file records")

    // MIN/MAX on an int/long column: recorded file bounds are exact —
    // zero file records read; mixed with COUNT(*) in one aggregate
    val nMm = recordsRead {
      val r = spark.sql(
        "SELECT min(id), max(id), count(*), max(day) FROM ncat.cnt_t")
        .head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
        ((0L, 7776L, 7777L, 4L)))
    }
    assert(nMm === 0L, s"metadata min/max read $nMm file records")

    // filtered count: the pushdown must REFUSE (this builder claims no
    // filters) and the scan path answer exactly
    val n2 = recordsRead {
      assert(spark.sql(
        "SELECT count(*) FROM ncat.cnt_t WHERE day = 2")
        .head().getLong(0) === (0 until 7777).count(_ % 5 == 2).toLong)
    }
    assert(n2 > 0L, "filtered count did not scan")

    // outstanding MOR delete: manifest totals overcount — refuse and scan
    IcebergLite.deleteWhereMOR(spark, s"$wh/cnt_t", col("id") < 77L)
    val n3 = recordsRead {
      assert(spark.sql("SELECT count(*) FROM ncat.cnt_t")
        .head().getLong(0) === 7700L)
    }
    assert(n3 > 0L, "MOR-deleted count did not scan")
  }

  test("native scan applies MOR deletes: position + equality + sequence semantics ≡ V1") {
    // r19 verdict task 1: MOR-deleted tables must stay on the native
    // route (statistics, DPP, direct parquet) with the deletes applied
    // INSIDE the scan — position deletes as a per-file row-index
    // anti-filter, equality deletes as key sets with the entry-snapshot
    // sequence check (a later re-append of a deleted key survives)
    spark.sql("""CREATE TABLE ncat.nat_morscan (id BIGINT, lang STRING,
                 body STRING, n BIGINT) USING iceberg
                 PARTITIONED BY (lang)""")
    val dir = s"$wh/nat_morscan"
    docs(400).writeTo("ncat.nat_morscan").append()
    // position deletes (content=1): a predicate MOR delete
    IcebergLite.deleteWhereMOR(spark, dir, col("id") % 7 === 0)
    // equality deletes (content=2) on id
    IcebergLite.equalityDeleteMOR(spark, dir,
      (1 to 100).map(_.toLong).toDF("id"))
    // upsert: re-append some of the equality-deleted keys — the new
    // rows postdate the delete and MUST survive
    docs(40).withColumn("n", col("n") + 5000L)
      .writeTo("ncat.nat_morscan").append()

    def readAll(t: DataFrame): Seq[(Long, String, Long)] =
      t.select(col("id"), col("lang"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    val native = readAll(spark.table("ncat.nat_morscan"))
    assert(native === readAll(lite("nat_morscan")))
    // independent expectation: survivors = (401..∞ none) — base docs
    // minus id%7==0 minus id in 1..100, plus the 40 re-appended rows
    val base = (1 to 400).filter(i => i % 7 != 0 && i > 100)
      .map(i => (i.toLong, s"w${i % 7}", i * 3L))
    val reup = (1 to 40).map(i => (i.toLong, s"w${i % 7}", i * 3L + 5000L))
    assert(native === (base ++ reup).sorted)
    // the native route actually engaged on the MOR table
    val plan = spark.table("ncat.nat_morscan").queryExecution.executedPlan
    assert(plan.toString.contains("GraftNativeScan"),
      s"expected the native batch scan on the MOR table in:\n$plan")
    // column pruning that EXCLUDES the equality key column still
    // applies the deletes (the key rides as an extra reader column)
    def langOnly(t: DataFrame): Seq[String] =
      t.select("lang", "n")
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}")
        .toSeq.sorted
    assert(langOnly(spark.table("ncat.nat_morscan")) ===
      langOnly(lite("nat_morscan")))
    assert(langOnly(spark.table("ncat.nat_morscan")) ===
      (base ++ reup).map(r => s"${r._2}:${r._3}").sorted)
    // filters pushed onto a position-deleted file stay exact (the row
    // index is computed under row-group skipping, not row counting)
    def filtered(t: DataFrame): Seq[Long] =
      t.filter(col("id") > 350)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(filtered(spark.table("ncat.nat_morscan")) === filtered(
      IcebergLite.readTableWhere(spark, s"$wh/nat_morscan",
        Seq(IcebergLite.GtEq("id", 351L)))))
    assert(filtered(spark.table("ncat.nat_morscan")) ===
      base.map(_._1).filter(_ > 350).sorted)
  }

  test("MOR position deletes on a NESTED schema (parquet-mr row-index path) ≡ V1") {
    // nested columns decline the vectorized reader — the row-index
    // column must also come back from the parquet-mr reader wrapper
    spark.sql("""CREATE TABLE ncat.nat_mor_nested (id BIGINT,
                 tags ARRAY<STRING>, n BIGINT) USING iceberg""")
    spark.range(1, 101)
      .selectExpr("id", "array(concat('t', id % 5), 'x') AS tags",
        "id * 7 AS n")
      .writeTo("ncat.nat_mor_nested").append()
    IcebergLite.deleteWhereMOR(spark, s"$wh/nat_mor_nested",
      col("id") % 3 === 0)
    def readAll(t: DataFrame): Seq[(Long, String, Long)] =
      t.selectExpr("id", "tags[0] AS t0", "n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    val native = readAll(spark.table("ncat.nat_mor_nested"))
    assert(native === readAll(lite("nat_mor_nested")))
    assert(native === (1L to 100L).filter(_ % 3 != 0)
      .map(i => (i, s"t${i % 5}", i * 7)))
    assert(spark.table("ncat.nat_mor_nested").queryExecution.executedPlan
      .toString.contains("GraftNativeScan"))
  }

  test("MOR equality deletes on a BINARY key apply in the native scan") {
    // the reader's key sets wrap binary keys so they compare by content
    // (a bare Array[Byte] compares by reference and would silently
    // resurrect every deleted row)
    spark.sql("""CREATE TABLE ncat.nat_mor_bin (k BINARY, n BIGINT)
                 USING iceberg""")
    spark.range(1, 21)
      .selectExpr("CAST(CAST(id AS STRING) AS BINARY) AS k", "id AS n")
      .writeTo("ncat.nat_mor_bin").append()
    IcebergLite.equalityDeleteMOR(spark, s"$wh/nat_mor_bin",
      Seq("3", "7").toDF("k").selectExpr("CAST(k AS BINARY) AS k"))
    val want = (1 to 20).map(_.toString).toSet -- Set("3", "7")
    val df = spark.table("ncat.nat_mor_bin")
    assert(df.queryExecution.executedPlan.toString.contains("GraftNativeScan"),
      "binary-keyed equality deletes must plan the native scan")
    assert(df.count() === 18L)
    Seq(df, lite("nat_mor_bin")).foreach { t =>
      assert(t.selectExpr("CAST(k AS STRING) AS s").collect()
        .map(_.getString(0)).toSet === want)
    }
  }

  test("equality deletes resolve their key columns by field id across a rename") {
    // the delete files store the key under its write-time name; after
    // the column is renamed, every read still matches the keys by field id
    spark.sql("CREATE TABLE ncat.nat_mor_ren (id BIGINT, v STRING) USING iceberg")
    val dir = s"$wh/nat_mor_ren"
    spark.range(1, 11).selectExpr("id", "CAST(id AS STRING) AS v")
      .writeTo("ncat.nat_mor_ren").append()
    IcebergLite.equalityDeleteMOR(spark, dir, (1L to 3L).toDF("id"))
    val sDel = IcebergLite.snapshotIds(spark, dir).last
    def ids(t: DataFrame): Seq[Long] =
      t.select(t.columns.head).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids(spark.table("ncat.nat_mor_ren")) === (4L to 10L))
    assert(ids(IcebergLite.readTable(spark, dir)) === (4L to 10L))
    IcebergLite.renameColumn(spark, dir, "id", "key")
    val reads = Seq(
      "catalog" -> spark.table("ncat.nat_mor_ren"),
      "readTable" -> IcebergLite.readTable(spark, dir),
      "readTableWhere" -> IcebergLite.readTableWhere(spark, dir,
        Seq(IcebergLite.GtEq("key", 0L))),
      "pinned" -> spark.sql(s"SELECT * FROM ncat.nat_mor_ren VERSION AS OF $sDel"))
    reads.foreach { case (k, t) =>
      assert(t.columns.head === "key", k)
      assert(ids(t) === (4L to 10L), k)
    }
    // the changelog's pre-image join resolves the same way
    assert(IcebergLite.readChangelog(spark, dir, sDel - 1, Some(sDel))
      .select("key").as[Long].collect().sorted.toSeq === (1L to 3L))
    IcebergLite.compact(spark, dir)
    assert(ids(IcebergLite.readTable(spark, dir)) === (4L to 10L))
    assert(ids(spark.table("ncat.nat_mor_ren")) === (4L to 10L))
  }

  test("equality deletes refuse nested key columns when written") {
    // Iceberg equality fields are primitive: a struct, array or map key
    // is refused by name before anything is staged
    spark.sql("""CREATE TABLE ncat.nat_mor_nestkey (id BIGINT,
                 s STRUCT<a: INT>, tags ARRAY<STRING>, m MAP<STRING, INT>)
                 USING iceberg""")
    val dir = s"$wh/nat_mor_nestkey"
    spark.range(1, 4).selectExpr("id", "named_struct('a', CAST(id AS INT)) AS s",
        "array('t') AS tags", "map('k', CAST(id AS INT)) AS m")
      .writeTo("ncat.nat_mor_nestkey").append()
    val before = IcebergLite.snapshotIds(spark, dir)
    Seq("s", "tags", "m").foreach { c =>
      val e = intercept[IllegalArgumentException](
        IcebergLite.equalityDeleteMOR(spark, dir,
          spark.table("ncat.nat_mor_nestkey").select(c)))
      assert(e.getMessage.contains(s"equality column $c") &&
        e.getMessage.contains("primitive"), e.getMessage)
    }
    assert(IcebergLite.snapshotIds(spark, dir) === before)
    assert(spark.table("ncat.nat_mor_nestkey").count() === 3L)
  }

  test("MOR statistics do not under-estimate a pruned scan (global delete total)") {
    // partition A carries heavy position deletes; a read pruned to
    // partition B must NOT subtract the GLOBAL delete total from B's
    // rows (rows=0 would flip the broadcast decision the wrong way)
    spark.sql("""CREATE TABLE ncat.stat_prune (id BIGINT, part STRING,
                 v BIGINT) USING iceberg PARTITIONED BY (part)""")
    spark.range(0, 20000)
      .selectExpr("id", "CASE WHEN id < 10000 THEN 'a' ELSE 'b' END AS part",
        "id AS v")
      .writeTo("ncat.stat_prune").append()
    // delete most of partition a (MOR)
    IcebergLite.deleteWhereMOR(spark, s"$wh/stat_prune",
      col("part") === "a" && col("id") < 9000L)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = spark.table("ncat.stat_prune").filter(col("part") === "b")
    val scan = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scan.nonEmpty)
    val stats = scan.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong === 10000L,
      s"pruned-scan estimate subtracted the global delete total: " +
        s"${stats.numRows()}")
    // unpruned scan still subtracts (exact direction for the whole table)
    val full = spark.table("ncat.stat_prune").queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(full.numRows().getAsLong === 11000L, s"${full.numRows()}")
  }

  test("MOR-deleted dimension keeps manifest statistics: the join still broadcasts") {
    // the r19 gap: MOR tables fell to the V1ScanWrapper fallback, whose
    // statistics Spark never consults — every fact⋈dim join on a
    // CDC/upsert table planned a two-sided sort-merge join until compact
    spark.sql("""CREATE TABLE ncat.stat_fact2 (id BIGINT, k BIGINT,
                 v BIGINT) USING iceberg""")
    spark.sql("""CREATE TABLE ncat.stat_dim2 (k BIGINT, name STRING)
                 USING iceberg""")
    spark.range(0, 50000)
      .selectExpr("id", "id % 100 AS k", "id * 2 AS v")
      .writeTo("ncat.stat_fact2").append()
    spark.range(0, 100).selectExpr("id AS k", "concat('n', id) AS name")
      .writeTo("ncat.stat_dim2").append()
    // make the dim a genuine MOR table (outstanding position deletes)
    IcebergLite.deleteWhereMOR(spark, s"$wh/stat_dim2", col("k") >= 90L)

    val j = spark.table("ncat.stat_fact2")
      .join(spark.table("ncat.stat_dim2"), "k")
      .groupBy("name").agg(sum(col("v")).as("s"))
    assert(j.count() === 90L)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"MOR dim did not auto-broadcast:\n$plan")
    // and the values are a direct IcebergLite read's
    val want = lite("stat_fact2").join(lite("stat_dim2"), "k")
      .groupBy("name").agg(sum(col("v")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val got = j.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got === want)
  }

  test("MIN/MAX(date|timestamp) answer from metadata with zero file records read") {
    // r19 carried item: temporal bounds serialize as the SAME integral
    // physical values their ordering is defined on (date = days int,
    // timestamp = micros long) — the exactness proof is int/long's
    spark.sql("""CREATE TABLE ncat.mm_temporal (id BIGINT, d DATE,
                 ts TIMESTAMP) USING iceberg""")
    spark.range(0, 500)
      .selectExpr("id", "date_add(DATE'2031-01-01', CAST(id AS INT)) AS d",
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2031-01-01 00:00:00') AS ts")
      .writeTo("ncat.mm_temporal").append()

    def recordsRead(f: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    val n = recordsRead {
      val r = spark.sql(
        "SELECT min(d), max(d), min(ts), max(ts), count(*) FROM ncat.mm_temporal")
        .head()
      assert(r.getDate(0).toString === "2031-01-01")
      assert(r.getDate(1).toString === "2032-05-14")
      assert(r.getTimestamp(2) ===
        java.sql.Timestamp.valueOf("2031-01-01 00:00:00"))
      assert(r.getTimestamp(3) ===
        java.sql.Timestamp.valueOf("2031-01-21 19:00:00"))
      assert(r.getLong(4) === 500L)
    }
    assert(n === 0L, s"temporal metadata min/max read $n file records")

    // the recorded temporal bounds also serve ordinary value queries
    // as a direct IcebergLite read does (sanity: bounds don't mis-prune)
    def hot(t: DataFrame): Long =
      t.filter(col("d") >= java.sql.Date.valueOf("2032-05-10")).count()
    val native = hot(spark.table("ncat.mm_temporal"))
    assert(native === hot(IcebergLite.readTableWhere(spark,
      s"$wh/mm_temporal",
      GraftTableCatalog.filterPreds(org.apache.spark.sql.sources
        .GreaterThanOrEqual("d", java.sql.Date.valueOf("2032-05-10"))))))
    assert(native === 5L)
  }

  test("native DML on a MOR-deleted table keeps its deletes") {
    spark.sql("""CREATE TABLE ncat.nat_mor (id BIGINT, n BIGINT)
                 USING iceberg""")
    spark.range(1, 11).selectExpr("id", "id AS n")
      .writeTo("ncat.nat_mor").append()
    val dir = s"$wh/nat_mor"
    IcebergLite.deleteWhereMOR(spark, dir, col("id") === 3L)
    val bare = GraftParquetShim.bareSession(spark)
    bare.conf.set("spark.sql.catalog.ncat",
      classOf[GraftTableCatalog].getName)
    bare.conf.set("spark.sql.catalog.ncat.warehouse", wh)
    val snaps = IcebergLite.snapshotIds(spark, dir).size
    bare.sql("UPDATE ncat.nat_mor SET n = 0 WHERE id > 100")
    assert(IcebergLite.snapshotIds(spark, dir).size === snaps)
    bare.sql("UPDATE ncat.nat_mor SET n = -n WHERE id <= 4")
    bare.sql("""DELETE FROM ncat.nat_mor WHERE id IN
                (SELECT id FROM ncat.nat_mor WHERE id % 5 = 0)""")
    assert(IcebergLite.snapshotIds(spark, dir).size === snaps + 2)
    // id 3 stays deleted; each statement added a position-delete manifest
    val expected = (1L to 10L).filterNot(Set(3L, 5L, 10L))
      .map(i => (i, if (i <= 4) -i else i))
    def read(df: DataFrame) = df.select("id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(read(bare.table("ncat.nat_mor")) === expected)
    assert(read(lite("nat_mor")) === expected)
    assert(IcebergLite.metaTable(spark, dir, "manifests")
      .filter(col("content") === 1).count() === 3L)
  }

  test("native DELETE / UPDATE over partition values Spark escapes in directory names") {
    // the UPDATE's new files land in escaped directories; the commit
    // must record them as written so the table stays readable
    val bare = GraftParquetShim.bareSession(spark)
    bare.conf.set("spark.sql.catalog.ncat",
      classOf[GraftTableCatalog].getName)
    bare.conf.set("spark.sql.catalog.ncat.warehouse", wh)
    bare.sql("""CREATE TABLE ncat.nat_esc (id BIGINT, code STRING,
                n BIGINT) USING iceberg PARTITIONED BY (code)""")
    val codes = Seq("2024-01-01 00:00:00", "a b", "x/y", "k=v", "50%")
    val rows = (0 until 20).map(i => (i.toLong, codes(i % codes.size), i * 10L))
    rows.toDF("id", "code", "n").writeTo("ncat.nat_esc").append()
    bare.sql("""DELETE FROM ncat.nat_esc WHERE id IN
                (SELECT id FROM ncat.nat_esc WHERE id % 4 = 0)""")
    bare.sql("""UPDATE ncat.nat_esc SET n = -n WHERE id IN
                (SELECT id FROM ncat.nat_esc WHERE id % 3 = 0)""")
    val expected = rows.filterNot(_._1 % 4 == 0).map { case (i, c, n) =>
      (i, c, if (i % 3 == 0) -n else n) }
    def read(df: DataFrame) = df.select("id", "code", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(read(bare.table("ncat.nat_esc")) === expected)
    assert(read(lite("nat_esc")) === expected)
    codes.foreach { c =>
      assert(bare.table("ncat.nat_esc").where(col("code") === c).count() ===
        expected.count(_._2 == c).toLong, c)
    }
  }

  /** The rows of `t` as (id, lang, n, text, extra) tuples, sorted. */
  private def evoRows(t: DataFrame): Seq[(Long, String, Long, String, String)] =
    t.select("id", "lang", "n", "text", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4))).toSeq.sorted

  test("evolved and pinned tables read through the one native reader") {
    // one table through ADD / RENAME / widen int→long / spec evolution,
    // stock-session DML and both merge-on-read delete kinds, one
    // snapshot per step; every snapshot must equal the plain-Scala
    // model of the written rows on every read route
    spark.sql("""CREATE TABLE ncat.evo (id BIGINT, lang STRING, n INT,
                 body STRING) USING iceberg PARTITIONED BY (lang)""")
    val dir = s"$wh/evo"
    type R = (Long, String, Long, String, String)
    var model = Map.empty[Long, R]
    val states = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, R])]
    val added = scala.collection.mutable.Map.empty[Long, Long] // id -> snapshot
    def snap(): Long = {
      val sid = IcebergLite.snapshotIds(spark, dir).last
      states += (sid -> model)
      sid
    }
    val sCreate = snap()
    def langOf(i: Long) = Seq("a", "b", "c")((i % 3).toInt)
    def append(ids: Seq[Long], extra: Boolean, textCol: String): Long = {
      val rows = ids.map(i => (i, langOf(i), (i * 10).toInt, s"t$i",
        if (extra) s"x$i" else null))
      val df = rows.toDF("id", "lang", "n", textCol, "extra")
      (if (extra) df else df.drop("extra")).writeTo("ncat.evo").append()
      rows.foreach(r => model += r._1 -> (r._1, r._2, r._3.toLong, r._4, r._5))
      val sid = snap()
      ids.foreach(added(_) = sid)
      sid
    }
    append(1L to 40L, extra = false, "body")
    IcebergLite.addColumn(spark, dir, "extra", StringType)
    append(41L to 60L, extra = true, "body")
    IcebergLite.renameColumn(spark, dir, "body", "text")
    append(61L to 80L, extra = true, "text")
    IcebergLite.widenColumn(spark, dir, "n", LongType)
    // a value past the int range: only the widened generation holds it
    (81L to 100L).map(i => (i, langOf(i), i * 10L + (1L << 40), s"t$i", s"x$i"))
      .toDF("id", "lang", "n", "text", "extra").writeTo("ncat.evo").append()
    (81L to 100L).foreach(i =>
      model += i -> (i, langOf(i), i * 10L + (1L << 40), s"t$i", s"x$i"))
    val sWide = snap()
    (81L to 100L).foreach(added(_) = sWide)
    IcebergLite.evolveSpec(spark, dir, Seq("lang", "bucket[4]:id"))
    val sSpec = append(101L to 130L, extra = true, "text")

    // stock-session DML on the evolved table (no graft extensions: the
    // V2 row-level path plans every generation natively)
    val bare = GraftParquetShim.bareSession(spark)
    bare.conf.set("spark.sql.catalog.ncat", classOf[GraftTableCatalog].getName)
    bare.conf.set("spark.sql.catalog.ncat.warehouse", wh)
    bare.sql("""DELETE FROM ncat.evo WHERE id IN
                (SELECT id FROM ncat.evo WHERE id % 9 = 0)""")
    model = model.filterNot(_._1 % 9 == 0)
    snap()
    bare.sql("UPDATE ncat.evo SET n = n + 1 WHERE id <= 30 OR id > 120")
    model = model.map { case (i, r) =>
      i -> (if (i <= 30 || i > 120) r.copy(_3 = r._3 + 1) else r) }
    snap()
    bare.createDataFrame((125L to 135L).map(i => (i, langOf(i), i, s"m$i", "mx")))
      .toDF("id", "lang", "n", "text", "extra")
      .createOrReplaceTempView("evo_src")
    bare.sql("""MERGE INTO ncat.evo t USING evo_src s ON t.id = s.id
                WHEN MATCHED THEN UPDATE SET text = s.text
                WHEN NOT MATCHED THEN INSERT *""")
    (125L to 135L).foreach { i =>
      model += i -> model.get(i).map(_.copy(_4 = s"m$i"))
        .getOrElse((i, langOf(i), i, s"m$i", "mx"))
    }
    val sMerge = snap()
    // both merge-on-read delete kinds
    IcebergLite.deleteWhereMOR(spark, dir, col("id") % 7 === 0)
    val posHit = model.keySet.filter(_ % 7 == 0)
    model = model -- posHit
    val sPos = snap()
    IcebergLite.equalityDeleteMOR(spark, dir, (1L to 10L).toDF("id"))
    val eqHit = model.keySet.filter(_ <= 10L)
    model = model -- eqHit
    val sEq = snap()
    assert(states.map(_._1).distinct.size === states.size)

    graft.Catalog.registerIcebergTable(spark, "evo_reg", dir)
    val cols = "id, lang, n, text, extra"
    states.foreach { case (sid, m) =>
      val want = m.values.toSeq.sorted
      val wantA = want.filter(_._2 == "a")
      val byCatalog = spark.sql(s"SELECT $cols FROM ncat.evo VERSION AS OF $sid")
      val byName = spark.sql(s"SELECT $cols FROM evo_reg VERSION AS OF $sid")
      assert(evoRows(byCatalog) === want, s"catalog name, snapshot $sid")
      assert(evoRows(byName) === want, s"registered name, snapshot $sid")
      assert(evoRows(IcebergLite.readTable(spark, dir, Some(sid))) === want,
        s"readTable, snapshot $sid")
      assert(evoRows(IcebergLite.readTableWhere(spark, dir,
          Seq(IcebergLite.EqTo("lang", "a")), Some(sid))
        .filter(col("lang") === "a")) === wantA, s"readTableWhere, snapshot $sid")
      val filtered = spark.sql(
        s"SELECT $cols FROM ncat.evo VERSION AS OF $sid WHERE lang = 'a'")
      assert(evoRows(filtered) === wantA, s"filtered, snapshot $sid")
      if (want.nonEmpty) {
        // pinned and evolved reads plan the native scan, and the
        // predicate prunes files across every spec generation
        val total = graft.plans.IcebergSqlAudit.scannedFiles(byCatalog)
        assert(total > 0, s"snapshot $sid did not plan natively")
        assert(graft.plans.IcebergSqlAudit.scannedFiles(byName) === total)
        assert(graft.plans.IcebergSqlAudit.scannedFiles(filtered) < total,
          s"snapshot $sid: lang = 'a' pruned no file")
      }
    }
    val current = model.values.toSeq.sorted
    assert(evoRows(spark.table("ncat.evo")) === current)

    // the ranges the incremental readers accept: appends only, then the
    // two merge-on-read deletes
    val inc = IcebergLite.readIncremental(spark, dir, sCreate, Some(sSpec))
    val incWant = states.find(_._1 == sSpec).get._2.values.toSeq
      .map(r => (r, added(r._1))).sortBy(_._1)
    assert(inc.select(cols.split(", ").map(col) :+ col("_added_snapshot_id"): _*)
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)), r.getLong(5))).toSeq.sortBy(_._1) ===
      incWant)
    val appendLog = IcebergLite.readChangelog(spark, dir, sCreate, Some(sSpec))
    assert(appendLog.filter(col("_change_type") =!= "insert").count() === 0L)
    assert(evoRows(appendLog) === incWant.map(_._1))
    val delLog = IcebergLite.readChangelog(spark, dir, sMerge, Some(sEq))
      .select("id", "_change_type", "_commit_snapshot_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(delLog === (posHit.toSeq.map(i => (i, "delete", sPos)) ++
      eqHit.toSeq.map(i => (i, "delete", sEq))).sorted)

    // compaction rewrites every generation into the current one
    IcebergLite.compact(spark, dir)
    assert(evoRows(IcebergLite.readTable(spark, dir)) === current)
    assert(evoRows(spark.table("ncat.evo")) === current)
    assert(evoRows(spark.sql(s"SELECT $cols FROM ncat.evo VERSION AS OF $sEq")) ===
      current)
  }

  test("large delete states read the same rows through the native scan") {
    // no cap and no fallback: the current, a filtered and a pinned read
    // of a table with both delete kinds all plan GraftNativeScan, and
    // each task applies its own file's deletes
    spark.sql("""CREATE TABLE ncat.nat_cap (id BIGINT, lang STRING,
                 body STRING, n BIGINT) USING iceberg PARTITIONED BY (lang)""")
    val dir = s"$wh/nat_cap"
    docs(200).writeTo("ncat.nat_cap").append()
    IcebergLite.deleteWhereMOR(spark, dir, col("id") % 7 === 0)
    IcebergLite.equalityDeleteMOR(spark, dir, (1L to 50L).toDF("id"))
    val sPinned = IcebergLite.snapshotIds(spark, dir).last
    // upsert: re-appended keys postdate the equality delete and survive
    docs(20).withColumn("n", col("n") + 5000L).writeTo("ncat.nat_cap").append()
    val pinnedWant = (1 to 200).filter(i => i % 7 != 0 && i > 50)
      .map(i => (i.toLong, s"w${i % 7}", i * 3L))
    val currentWant = (pinnedWant ++
      (1 to 20).map(i => (i.toLong, s"w${i % 7}", i * 3L + 5000L))).sorted

    def rows(t: DataFrame): Seq[(Long, String, Long)] =
      t.select("id", "lang", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val reads = Seq(
      "current" -> (() => spark.table("ncat.nat_cap")),
      "filtered" -> (() => spark.table("ncat.nat_cap").filter(col("id") > 30)),
      "pinned" -> (() => spark.sql(
        s"SELECT * FROM ncat.nat_cap VERSION AS OF $sPinned")))
    val wants = Map("current" -> currentWant,
      "filtered" -> currentWant.filter(_._1 > 30), "pinned" -> pinnedWant.sorted)
    reads.foreach { case (k, q) =>
      val plan = q().queryExecution.executedPlan.toString
      assert(plan.contains("GraftNativeScan"), s"$k:\n$plan")
      assert(rows(q()) === wants(k), k)
    }
    // the scan names the delete load it applies; a delete-free scan's
    // description is unchanged
    val described = spark.table("ncat.nat_cap").queryExecution.executedPlan
      .toString
    assert("MORDeletes: \\[(\\d+) position-delete files, 1 equality-delete files, (\\d+) rows\\]"
      .r.findFirstIn(described).nonEmpty, described)
    spark.sql("CREATE TABLE ncat.nat_cap_clean (id BIGINT) USING iceberg")
    spark.range(0, 10).writeTo("ncat.nat_cap_clean").append()
    val clean = spark.table("ncat.nat_cap_clean").queryExecution.executedPlan
      .toString
    assert(clean.contains("GraftNativeScan") && !clean.contains("MORDeletes"),
      clean)
  }

  test("the reader factory does not grow with the delete rows") {
    // the deletes travel as file names in each file's input partition
    // and are read by its task: nothing of their rows is in the factory
    def factoryBytes(table: String, deleted: Long): Int = {
      val dir = s"$wh/$table"
      IcebergLite.createTable(spark, spark.range(0, 200000)
        .selectExpr("id", "id % 3 AS v"), dir)
      IcebergLite.deleteWhereMOR(spark, dir, col("id") < deleted)
      assert(IcebergLite.readTable(spark, dir).count() === 200000L - deleted)
      val scan = new GraftFileSetTable(table,
          IcebergLite.nativeScanInfo(spark, IcebergLite.readMeta(spark, dir)))
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toBatch
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(scan.createReaderFactory())
      out.close()
      bytes.size()
    }
    val small = factoryBytes("fac_small", 10L)
    val large = factoryBytes("fac_large", 100000L)
    assert(math.abs(large - small) <= 1024, s"10 rows: $small B, 100000 rows: $large B")
  }

  test("readTable over 40+ files submits only the scan's own jobs") {
    // the manifests name every file: no directory listing job, however
    // many files the snapshot holds
    val dir = s"$wh/many_files"
    IcebergLite.createTable(spark, spark.range(0, 450)
      .selectExpr("id", "CAST(id % 45 AS INT) AS p"), dir, partitionBy = Seq("p"))
    assert(IcebergLite.scanFileCount(spark, dir, Nil)._2 >= 40)
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).mkString(";")))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(IcebergLite.readTable(spark, dir).count() === 450L)
      org.apache.spark.sql.GraftPlanShim.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    assert(!seen.exists(_.contains("Listing leaf files")), seen.mkString("\n"))
    // the count's scan stage and its final aggregate, nothing else
    assert(seen.size <= 2, seen.mkString("\n"))
  }
}
