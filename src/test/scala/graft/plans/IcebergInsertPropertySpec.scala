package graft.plans

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftParquetShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{Catalog, SparkSuite}
import graft.sources.{GraftTableCatalog, IcebergLite, IcebergTransforms}

/** Generated SQL INSERT INTO (positional, column list, BY NAME), INSERT
  * OVERWRITE (static and dynamic) and TRUNCATE statements and
  * `df.writeTo(t).append()`, `.overwrite(cond)` and
  * `.overwritePartitions()` (scalacheck Gen, FIXED seeds, no shrinking),
  * checked against a plain-Scala model. Targets are partitioned by
  * identity, bucket or days, sorted, or neither, some with prior
  * position and equality deletes. Every statement runs through a
  * registered name and a catalog name in the extension session and a
  * catalog name in a session without the extensions; each must leave
  * the model's rows and commit exactly one snapshot when it writes or
  * removes anything, and the three routes must agree on the live
  * data-file count and the snapshot operation. */
class IcebergInsertPropertySpec extends SparkSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_insert_prop_wh").toString
  spark.conf.set("spark.sql.catalog.icat", classOf[GraftTableCatalog].getName)
  spark.conf.set("spark.sql.catalog.icat.warehouse", wh)
  private lazy val bare: SparkSession = {
    val b = GraftParquetShim.bareSession(spark)
    b.conf.set("spark.sql.catalog.icat", classOf[GraftTableCatalog].getName)
    b.conf.set("spark.sql.catalog.icat.warehouse", wh)
    b
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** A row: id, grp, ts, v. */
  type R = (Long, Option[String], Timestamp, Option[Long])

  private val day0 = Timestamp.valueOf("2026-03-01 00:00:00").getTime
  private def ts(day: Int, hour: Int) =
    new Timestamp(day0 + day * 86400000L + hour * 3600000L)

  /** A target: its partition spec, its sort order, and its prior deletes
    * (0 none, 1 position, 2 position and equality). */
  case class Target(spec: Seq[String], sort: Seq[String], deletes: Int)

  private val layouts = Seq(
    (Seq("grp"), Nil), (Seq("bucket[4]:id"), Seq("ts")), (Seq("day:ts"), Nil),
    (Nil, Seq("id")), (Nil, Nil))

  /** The partition tuple of `r` under `spec`, as the Iceberg transforms
    * define it. */
  private def partitionOf(spec: Seq[String], r: R): Seq[Any] =
    spec.map(IcebergTransforms.parse).map { pf =>
      pf.sourceCol match {
        case "grp" => r._2.orNull
        case "id" => IcebergTransforms.applyValue(pf.transform, LongType, r._1)
        case _ => Math.floorDiv(r._3.getTime, 86400000L)
      }
    }

  /** `writeTo(t).overwrite(cond)`'s condition: a comparison Spark can
    * hand to the table as a filter; NULL never holds. */
  case class Cond(on: String, v: Long) {
    def column: Column = on match {
      case "id" => col("id") < v
      case "v" => col("v") >= v
      case _ => col("grp") === s"g$v"
    }
    def holds(r: R): Boolean = on match {
      case "id" => r._1 < v
      case "v" => r._4.exists(_ >= v)
      case _ => r._2.contains(s"g$v")
    }
  }

  /** The statement kinds, in order: INSERT positional, column list, BY
    * NAME; INSERT OVERWRITE static, dynamic; TRUNCATE; writeTo append,
    * overwrite(cond), overwritePartitions. */
  private val kinds = Seq("insert", "insert_cols", "insert_by_name",
    "overwrite", "overwrite_dynamic", "truncate", "append",
    "overwrite_cond", "overwrite_partitions")

  case class Case(i: Int, kind: String, t: Target, source: List[R],
                  cond: Cond)

  private val rowGen: Gen[R] = for {
    id <- Gen.choose(1L, 60L)
    g <- Gen.frequency(5 -> Gen.oneOf("g1", "g2", "g3").map(Some(_)),
      1 -> Gen.const(None))
    d <- Gen.choose(0, 5)
    h <- Gen.choose(0, 23)
    v <- Gen.frequency(5 -> Gen.choose(-5L, 60L).map(Some(_)),
      1 -> Gen.const(None))
  } yield (id, g, ts(d, h), v)

  private val caseGen: Gen[(List[R], Cond)] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 12))
    rows <- Gen.listOfN(n, rowGen)
    c <- Gen.oneOf("id", "v", "grp")
    v <- Gen.choose(1L, if (c == "grp") 3L else 40L)
  } yield (rows, Cond(c, v))

  /** Each kind against three layouts, so every kind meets a partitioned
    * and an unpartitioned target, and each dynamic overwrite kind every
    * layout between them. */
  private val cases: Seq[Case] = for {
    (kind, k) <- kinds.zipWithIndex
    j <- 0 until 3
  } yield {
    val i = k * 3 + j
    val (spec, sort) = layouts((k + 2 * j) % layouts.size)
    val (src, cond) = sample(caseGen, 3000L + 53L * i)
    Case(i, kind, Target(spec, sort, deletes = i % 3), src, cond)
  }

  private def row(i: Long): R = (i, Some(s"g${i % 3 + 1}").filter(_ => i % 8 != 0),
    ts((i % 6).toInt, (i * 5 % 24).toInt), if (i % 5 == 0) None else Some(i * 10))
  private val first: Seq[R] = (1L to 16L).map(row)
  private val second: Seq[R] = (17L to 28L).map(row)

  /** The target's rows once its prior deletes applied. */
  private def live(t: Target): Seq[R] = (first ++ second)
    .filterNot(r => t.deletes >= 1 && r._1 % 7 == 0)
    .filterNot(r => t.deletes == 2 && Set(3L, 20L)(r._1))

  private def frame(session: SparkSession, rows: Seq[R]): DataFrame =
    session.createDataFrame(rows).toDF("id", "grp", "ts", "v")

  /** Build the target at `dir`: two appends, then the prior deletes. */
  private def build(t: Target, dir: String): Unit = {
    IcebergLite.createTable(spark, frame(spark, first), dir,
      partitionBy = t.spec, sortBy = t.sort)
    IcebergLite.appendSnapshot(spark, frame(spark, second), dir,
      partitionBy = t.spec)
    if (t.deletes >= 1)
      IcebergLite.deleteWhereMOR(spark, dir, col("id") % 7 === 0L)
    if (t.deletes == 2)
      IcebergLite.equalityDeleteMOR(spark, dir, Seq(3L, 20L).toDF("id"))
  }

  /** The statement by the book: (rows after it, whether it commits). */
  private def model(c: Case, live: Seq[R]): (Seq[R], Boolean) = {
    def dynamic = if (c.t.spec.isEmpty) (c.source, true) else {
      val touched = c.source.map(partitionOf(c.t.spec, _)).toSet
      (live.filterNot(r => touched(partitionOf(c.t.spec, r))) ++ c.source,
        c.source.nonEmpty)
    }
    c.kind match {
      case "overwrite" => (c.source, true)
      case "truncate" => (Nil, true)
      case "overwrite_dynamic" | "overwrite_partitions" => dynamic
      case "overwrite_cond" => (live.filterNot(c.cond.holds) ++ c.source,
        c.source.nonEmpty || live.exists(c.cond.holds))
      case _ => (live ++ c.source, c.source.nonEmpty)
    }
  }

  /** Run case `c` on `target` through `session`; the extension
    * session's TRUNCATE returns its count, as `Some`. */
  private def run(c: Case, session: SparkSession,
                  target: String): Option[Long] = {
    val src = s"${target.replace('.', '_')}_src"
    frame(session, c.source).createOrReplaceTempView(src)
    val df = session.table(src)
    def sql(text: String) = session.sql(text).collect()
    c.kind match {
      case "insert" => sql(s"INSERT INTO $target SELECT id, grp, ts, v FROM $src")
      case "insert_cols" =>
        sql(s"INSERT INTO $target (v, ts, id, grp) SELECT v, ts, id, grp FROM $src")
      case "insert_by_name" =>
        sql(s"INSERT INTO $target BY NAME SELECT grp, v, id, ts FROM $src")
      case "overwrite" => sql(s"INSERT OVERWRITE $target SELECT * FROM $src")
      case "overwrite_dynamic" =>
        session.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try sql(s"INSERT OVERWRITE $target SELECT * FROM $src")
        finally
          session.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      case "truncate" =>
        return sql(s"TRUNCATE TABLE $target").headOption.map(_.getLong(0))
      case "append" => df.writeTo(target).append()
      case "overwrite_cond" => df.writeTo(target).overwrite(c.cond.column)
      case "overwrite_partitions" => df.writeTo(target).overwritePartitions()
    }
    None
  }

  private def liveDataFiles(dir: String): Long =
    IcebergLite.metaTable(spark, dir, "files").filter(col("content") === 0)
      .count()

  test("generated INSERT, OVERWRITE, TRUNCATE and writeTo == the plain-Scala model on every route") {
    // the fixed seeds cover every feature the suite claims
    assert(cases.map(_.kind).toSet === kinds.toSet)
    val dynamic = Set("overwrite_dynamic", "overwrite_partitions")
    assert(layouts.forall { case (spec, sort) => cases.exists(c =>
      dynamic(c.kind) && c.t.spec == spec && c.t.sort == sort) })
    assert(cases.exists(c => c.t.deletes == 2 && c.t.spec.nonEmpty))
    assert(cases.exists(_.source.isEmpty), "no empty source")
    assert(cases.exists(_.source.exists(_._2.isEmpty)), "no NULL grp")
    info(s"${cases.size} cases x 3 routes; source sizes " +
      cases.map(_.source.size).mkString(", "))
    for (c <- cases) {
      val (want, commits) = model(c, live(c.t))
      val seen = mutable.LinkedHashMap.empty[String, (Long, String)]
      for (route <- Seq("registered", "catalog", "bare")) {
        val tname = s"ip_${c.i}_$route"
        val dir = s"$wh/$tname"
        build(c.t, dir)
        val target =
          if (route == "registered") {
            Catalog.registerIcebergTable(spark, tname, dir)
            tname
          } else s"icat.$tname"
        val what = s"case ${c.i} ${c.kind} $c ($route)"
        val snapsBefore = IcebergLite.snapshotIds(spark, dir)
        val counted = run(c, if (route == "bare") bare else spark, target)
        val got = IcebergLite.readTable(spark, dir)
          .select("id", "grp", "ts", "v").as[R].collect().toSeq
        assert(got.sortBy(_.toString) === want.sortBy(_.toString), what)
        val snaps = IcebergLite.snapshotIds(spark, dir)
        assert(snaps.size === snapsBefore.size + (if (commits) 1 else 0), what)
        if (c.kind == "truncate")
          assert(counted === (if (route == "bare") None
            else Some(live(c.t).size.toLong)), what)
        val op = IcebergLite.metaTable(spark, dir, "snapshots")
          .orderBy(col("snapshot_id").desc).head().getAs[String]("operation")
        seen(route) = (liveDataFiles(dir), op)
      }
      assert(seen.values.toSet.size === 1,
        s"case ${c.i} ${c.kind}: routes disagree $seen")
    }
  }

  test("a SQL INSERT writes as many data files as appendSnapshot of the same batch") {
    def batch(n: Long) = spark.range(1, n + 1).select(col("id"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("grp"),
      timestamp_seconds(lit(day0 / 1000) + col("id") * 2).as("ts"),
      (col("id") * 7).as("v"))
    // distinct sort values, so the sampled range bounds balance the
    // batch on every run; the default AQE settings, and an 8 KB advisory
    // partition size, under which AQE would split the larger partitions
    // of a rebalance
    val small = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    for ((n, confs) <- Seq((300000L, Nil), (4000L, small));
         (spec, sort) <- Seq((Nil, Seq("id")), (Seq("grp"), Nil),
           (Seq("bucket[4]:id"), Seq("ts")))) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val dirs = Seq("api", "sql").map { r =>
          val dir = s"$wh/files_${n}_${spec.mkString}_${sort.mkString}_$r"
          IcebergLite.createEmptyTable(spark, batch(1).schema, dir,
            partitionBy = spec, sortBy = sort)
          dir
        }
        IcebergLite.appendSnapshot(spark, batch(n), dirs(0), partitionBy = spec)
        Catalog.registerIcebergTable(spark, "ip_files_sql", dirs(1))
        batch(n).createOrReplaceTempView("ip_files_src")
        spark.sql("INSERT INTO ip_files_sql SELECT * FROM ip_files_src")
        val files = dirs.map(liveDataFiles)
        val what = s"$n rows, spec $spec, sort $sort: $files"
        assert(files(0) === files(1), what)
        // the large batch spreads over several files on both routes
        if (confs.isEmpty) assert(files(0) > 1L, what)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("INSERT, OVERWRITE and writeTo plan Spark's V2 write nodes, never a V1 write") {
    val dir = s"$wh/ip_plan"
    IcebergLite.createTable(spark, frame(spark, first), dir,
      partitionBy = Seq("grp", "day:ts"), sortBy = Seq("id"))
    Catalog.registerIcebergTable(spark, "ip_plan", dir)
    for (session <- Seq(spark, bare); name <- Seq("ip_plan", "icat.ip_plan")
         if session == spark || name != "ip_plan") {
      def plan(stmt: String) =
        session.sql(s"EXPLAIN $stmt").head().getString(0)
      val select = "SELECT 1L, 'g1', TIMESTAMP'2026-03-01 10:00:00', 2L"
      for ((stmt, node) <- Seq(
          s"INSERT INTO $name $select" -> "AppendData",
          s"INSERT OVERWRITE $name $select" -> "OverwriteByExpression",
          s"INSERT OVERWRITE $name PARTITION (grp = 'g1') " +
            "SELECT 1L, TIMESTAMP'2026-03-01 10:00:00', 2L" ->
            "OverwriteByExpression")) {
        val p = plan(stmt)
        assert(p.contains(node) && !p.contains("ExecV1") &&
          !p.contains("V1Write"), s"$stmt\n$p")
      }
      session.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val p = try plan(s"INSERT OVERWRITE $name $select")
        finally
          session.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      assert(p.contains("OverwritePartitionsDynamic") && !p.contains("ExecV1"),
        p)
    }
    // writeTo's plans, through the executed query
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      val plans = mutable.ArrayBuffer.empty[String]
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        if (Set("append", "overwrite", "overwritePartitions")(f))
          plans.synchronized(plans += qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = frame(spark, first.take(2))
      df.writeTo("icat.ip_plan").append()
      df.writeTo("icat.ip_plan").overwrite(col("id") < 2L)
      df.writeTo("icat.ip_plan").overwritePartitions()
      var spins = 0
      while (listener.plans.synchronized(listener.plans.size) < 3 &&
          spins < 50) { spins += 1; Thread.sleep(50) }
    } finally spark.listenerManager.unregister(listener)
    val plans = listener.plans.synchronized(listener.plans.toList)
    assert(plans.size === 3, plans)
    assert(Seq("AppendData", "OverwriteByExpression",
      "OverwritePartitionsDynamic").forall(n => plans.exists(_.contains(n))) &&
      plans.forall(p => !p.contains("V1")), plans)
  }
}
