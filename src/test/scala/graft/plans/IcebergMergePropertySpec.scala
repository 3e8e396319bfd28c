package graft.plans

import org.apache.spark.sql.{GraftParquetShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{Catalog, SparkSuite}
import graft.sources.{GraftTableCatalog, IcebergLite}

/** Generated SQL MERGE, DELETE and UPDATE statements (scalacheck Gen,
  * FIXED seeds, no shrinking) checked against plain-Scala models of the
  * SQL statements. MERGE: 1–6 clauses over all five clause kinds, each
  * with an optional condition (first firing clause of its kind wins),
  * sources with NULL keys and — with an unconditional matched DELETE,
  * the one form Spark runs without its cardinality check — duplicate
  * keys. DELETE and UPDATE: an optional WHERE, a target condition or an
  * IN subquery over keys with NULLs, and UPDATEs that may move rows to
  * another partition. Targets are partitioned or not, with prior
  * position and equality deletes and a renamed or added column. Every
  * case runs through a registered name and a catalog name in the
  * extension session and a catalog name in a session without the
  * extensions; each must leave the model's rows, commit one snapshot
  * exactly when a row changes (a position-delete and/or data manifest,
  * no data file rewritten — or, for a DELETE with no WHERE, the empty
  * truncate snapshot), and count the model's effect — in the returned
  * count and in the snapshot summary. */
class IcebergMergePropertySpec extends SparkSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_merge_prop_wh").toString
  spark.conf.set("spark.sql.catalog.mcat", classOf[GraftTableCatalog].getName)
  spark.conf.set("spark.sql.catalog.mcat.warehouse", wh)
  private lazy val bare: SparkSession = {
    val b = GraftParquetShim.bareSession(spark)
    b.conf.set("spark.sql.catalog.mcat", classOf[GraftTableCatalog].getName)
    b.conf.set("spark.sql.catalog.mcat.warehouse", wh)
    b
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** A target row: id, grp, the value column, the added column. */
  type R = (Option[Long], String, Option[Long], Option[String])
  /** A source row: id, grp, v. */
  type S = (Option[Long], String, Option[Long])

  /** `<side>.<col> % m = r` — side "s" (source) or "t" (target), col
    * "v" (the value column) or "id"; NULL never fires. */
  case class Cond(side: String, col: String, m: Int, r: Int) {
    def sql(vcol: String): String =
      s"$side.${if (col == "v" && side == "t") vcol else col} % $m = $r"
    def fires(s: Option[S], t: Option[R]): Boolean = {
      val x = (side, col) match {
        case ("s", "v") => s.flatMap(_._3)
        case ("s", _) => s.flatMap(_._1)
        case ("t", "v") => t.flatMap(_._3)
        case _ => t.flatMap(_._1)
      }
      x.exists(_ % m == r)
    }
  }

  sealed trait Clause { def cond: Option[Cond]; def kind: Int }
  case class MatchedUpdate(cond: Option[Cond], k: Long) extends Clause { def kind = 0 }
  case class MatchedDelete(cond: Option[Cond]) extends Clause { def kind = 0 }
  case class Insert(cond: Option[Cond], k: Long) extends Clause { def kind = 1 }
  case class BySourceUpdate(cond: Option[Cond], k: Long) extends Clause { def kind = 2 }
  case class BySourceDelete(cond: Option[Cond]) extends Clause { def kind = 2 }

  private def withCond(c: Clause, cond: Option[Cond]): Clause = c match {
    case MatchedUpdate(_, k) => MatchedUpdate(cond, k)
    case MatchedDelete(_) => MatchedDelete(cond)
    case Insert(_, k) => Insert(cond, k)
    case BySourceUpdate(_, k) => BySourceUpdate(cond, k)
    case BySourceDelete(_) => BySourceDelete(cond)
  }

  private def condGen(sides: Seq[String]): Gen[Cond] = for {
    side <- Gen.oneOf(sides)
    c <- Gen.oneOf("v", "id")
    m <- Gen.choose(2, 4)
    r <- Gen.choose(0, m - 1)
  } yield Cond(side, c, m, r)

  private val clauseGen: Gen[Clause] = for {
    kind <- Gen.choose(0, 4)
    k <- Gen.choose(1L, 9L)
    sides = kind match {
      case 0 | 1 => Seq("s", "t")
      case 2 => Seq("s")
      case _ => Seq("t")
    }
    cond <- Gen.option(condGen(sides))
  } yield kind match {
    case 0 => MatchedUpdate(cond, k)
    case 1 => MatchedDelete(cond)
    case 2 => Insert(cond, k)
    case 3 => BySourceUpdate(cond, k)
    case _ => BySourceDelete(cond)
  }

  /** 1–6 clauses, grouped by kind in SQL order; Spark lets only the
    * last clause of a kind omit its condition. */
  private val clausesGen: Gen[List[Clause]] = for {
    n <- Gen.choose(1, 6)
    cs <- Gen.listOfN(n, clauseGen)
    fill <- Gen.listOfN(n, condGen(Seq("t")))
  } yield cs.sortBy(_.kind).zip(fill).groupBy(_._1.kind).toList.sortBy(_._1)
    .flatMap { case (kind, group) =>
      group.zipWithIndex.map { case ((c, f), i) =>
        val side = if (kind == 1) "s" else "t"
        if (i < group.size - 1 && c.cond.isEmpty)
          withCond(c, Some(f.copy(side = side)))
        else c
      }
    }

  private def sourceGen(dupKeys: Boolean): Gen[List[S]] = for {
    n <- Gen.choose(3, 14)
    rows <- Gen.listOfN(n, for {
      id <- Gen.frequency(6 -> Gen.choose(1L, 40L).map(Some(_)), 1 -> Gen.const(None))
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.frequency(5 -> Gen.choose(-5L, 60L).map(Some(_)), 1 -> Gen.const(None))
    } yield (id, g, v))
  } yield {
    // unique keys unless asked: a NULL key matches nothing, so NULL-key
    // rows may repeat either way
    val keyed = rows.filter(_._1.isDefined)
    val uniq = keyed.groupBy(_._1).values.map(_.head).toList ++
      rows.filter(_._1.isEmpty)
    if (dupKeys && keyed.nonEmpty)
      uniq ++ keyed.take(2).map(r => r.copy(_3 = r._3.map(_ + 1))) :+
        ((Some(5L), "a", Some(1L)))
    else uniq
  }

  /** A target's layout and history: partitioned by grp or not, the
    * schema evolution between its two appends (0 none, 1 rename v → v2,
    * 2 add x), and prior position and equality deletes. */
  case class Target(partitioned: Boolean, evolve: Int, posDel: Boolean,
                    eqDel: Boolean) {
    def vcol: String = if (evolve == 1) "v2" else "v"
  }

  /** The target of case `i`: from the index, so every seed set covers
    * each layout and history. */
  private def targetOf(i: Int): Target = Target(partitioned = i % 2 == 0,
    evolve = i % 3, posDel = i % 4 < 2, eqDel = (i / 2) % 2 == 0)

  /** One generated MERGE: the target from the case index, the source
    * and the clauses from the seed. */
  case class Case(i: Int, t: Target, dupKeys: Boolean, source: List[S],
                  clauses: List[Clause])

  private def caseOf(i: Int, seed: Long): Case = {
    val dupKeys = i % 4 == 3
    val (src, cls) = sample(Gen.zip(sourceGen(dupKeys), clausesGen), seed)
    val clauses =
      if (!dupKeys) cls
      else MatchedDelete(None) +: cls.filter(_.kind != 0)
    Case(i, targetOf(i), dupKeys, src, clauses)
  }

  private def grpOf(i: Long) = Seq("a", "b", "c")((i % 3).toInt)
  private def row(i: Long, added: Boolean): R =
    (Some(i), grpOf(i), if (i % 5 == 0) None else Some(i * 10),
      if (added) Some(s"x$i") else None)

  private val first: Seq[R] =
    (1L to 18L).map(row(_, added = false)) :+ ((None, "a", Some(7L), None))
  private def second(t: Target): Seq[R] = (19L to 30L).map(row(_, t.evolve == 2))

  /** The target's rows once its prior deletes applied. */
  private def live(t: Target): Seq[R] = (first ++ second(t))
    .filterNot(r => t.posDel && r._1.exists(_ % 7 == 0))
    .filterNot(r => t.eqDel && r._1.exists(Set(3L, 4L, 20L)))

  /** Build the target at `dir`: a first append, the schema evolution, a
    * second append, then the prior deletes. */
  private def build(t: Target, dir: String): Unit = {
    IcebergLite.createTable(spark,
      first.map(r => (r._1, r._2, r._3)).toDF("id", "grp", "v"), dir,
      partitionBy = if (t.partitioned) Seq("grp") else Nil)
    t.evolve match {
      case 1 => IcebergLite.renameColumn(spark, dir, "v", "v2")
      case 2 => IcebergLite.addColumn(spark, dir, "x", StringType)
      case _ => ()
    }
    val df = second(t).toDF("id", "grp", t.vcol, "x")
    IcebergLite.appendSnapshot(spark,
      if (t.evolve == 2) df else df.drop("x"), dir,
      partitionBy = if (t.partitioned) Seq("grp") else Nil)
    if (t.posDel)
      IcebergLite.deleteWhereMOR(spark, dir, col("id") % 7 === 0L)
    if (t.eqDel)
      IcebergLite.equalityDeleteMOR(spark, dir, Seq(3L, 4L, 20L).toDF("id"))
  }

  /** SQL MERGE by the book: each target row takes the first firing
    * clause of its kind (matched or not matched by source); a row
    * several source rows match and delete goes once; each unmatched
    * source row takes the first firing insert. Returns the rows and the
    * effect (updated + deleted + inserted). */
  private def model(c: Case, live: Seq[R]): (Seq[R], Long) = {
    def first(kind: Int, s: Option[S], t: Option[R]) =
      c.clauses.filter(_.kind == kind).find(_.cond.forall(_.fires(s, t)))
    var effect = 0L
    val kept = live.flatMap { t =>
      val ms = c.source.filter(s => s._1.isDefined && s._1 == t._1)
      val fired =
        if (ms.isEmpty) first(2, None, Some(t))
        else first(0, Some(ms.head), Some(t))
      fired match {
        case None => Some(t)
        case Some(MatchedUpdate(_, k)) =>
          effect += 1; Some(t.copy(_3 = ms.head._3.map(_ + k)))
        case Some(BySourceUpdate(_, k)) =>
          effect += 1; Some(t.copy(_3 = t._3.map(_ - k)))
        case Some(_) => effect += 1; None
      }
    }
    val inserted = c.source
      .filterNot(s => s._1.isDefined && live.exists(_._1 == s._1))
      .flatMap(s => first(1, Some(s), None).collect { case Insert(_, k) =>
        (s._1, s._2, s._3.map(_ * k), None: Option[String])
      })
    (kept ++ inserted, effect + inserted.size)
  }

  private def sql(c: Case, targetName: String, sourceName: String): String = {
    def when(cond: Option[Cond]) = cond.map(x => s" AND ${x.sql(c.t.vcol)}").getOrElse("")
    val v = c.t.vcol
    s"MERGE INTO $targetName t USING $sourceName s ON t.id = s.id " +
      c.clauses.map {
        case MatchedUpdate(cd, k) =>
          s"WHEN MATCHED${when(cd)} THEN UPDATE SET $v = s.v + $k"
        case MatchedDelete(cd) => s"WHEN MATCHED${when(cd)} THEN DELETE"
        case Insert(cd, k) => s"WHEN NOT MATCHED${when(cd)} THEN " +
          s"INSERT (id, grp, $v) VALUES (s.id, s.grp, s.v * $k)"
        case BySourceUpdate(cd, k) =>
          s"WHEN NOT MATCHED BY SOURCE${when(cd)} THEN UPDATE SET $v = t.$v - $k"
        case BySourceDelete(cd) =>
          s"WHEN NOT MATCHED BY SOURCE${when(cd)} THEN DELETE"
      }.mkString(" ")
  }

  private def liveDataFiles(dir: String): Set[String] =
    IcebergLite.metaTable(spark, dir, "files").filter(col("content") === 0)
      .select("file_path").as[String].collect().toSet

  private val routes = Seq("registered", "catalog", "bare")

  /** One generated statement through one route: build `t` as `tname`,
    * register the statement's views through `views` in the route's
    * session, run `stmt(<target name>)`, and check it — the rows equal
    * `want`; one snapshot lands iff `effect` > 0, whose new manifests
    * are a subset of {0, 1} and which keeps every prior data file live
    * (unless `truncates`: then it is the empty truncate snapshot); the
    * summary of that snapshot (through `summarized`) and the extension
    * session's returned count equal `effect`. */
  private def check(tname: String, route: String, t: Target, want: Seq[R],
                    effect: Long, truncates: Boolean = false)(
      views: SparkSession => Unit)(stmt: String => String)(
      summarized: org.apache.spark.sql.Row => Long): Unit = {
    val dir = s"$wh/$tname"
    build(t, dir)
    val session = if (route == "bare") bare else spark
    views(session)
    val targetName =
      if (route == "registered") {
        Catalog.registerIcebergTable(spark, tname, dir)
        tname
      } else s"mcat.$tname"
    val snapsBefore = IcebergLite.snapshotIds(spark, dir)
    val filesBefore = liveDataFiles(dir)
    val text = stmt(targetName)
    val result = session.sql(text)
    val what = s"$tname ($route): $text"
    val got = IcebergLite.readTable(spark, dir)
      .select(col("id"), col("grp"), col(t.vcol),
        if (t.evolve == 2) col("x") else lit(null).cast(StringType))
      .as[R].collect().toSeq
    assert(got.sortBy(_.toString) === want.sortBy(_.toString), what)
    val snaps = IcebergLite.snapshotIds(spark, dir)
    assert(snaps.size === snapsBefore.size + (if (effect > 0) 1 else 0), what)
    if (effect > 0) {
      val head = snaps.last
      val contents = IcebergLite.metaTable(spark, dir, "manifests")
        .filter(col("added_snapshot_id") === head)
        .select("content").as[Int].collect().toSet
      if (truncates) {
        assert(contents.isEmpty && liveDataFiles(dir).isEmpty, what)
      } else {
        assert(contents.nonEmpty && contents.subsetOf(Set(0, 1)), what)
        // a delta, never a rewrite: every prior data file stays live
        assert(filesBefore.subsetOf(liveDataFiles(dir)), what)
      }
      val s = IcebergLite.metaTable(spark, dir, "snapshots")
        .filter(col("snapshot_id") === head).head()
      assert(summarized(s) === effect, what)
    }
    if (route != "bare")
      assert(result.head().getLong(0) === effect, what)
  }

  /** A summary count column of a snapshot row, if recorded. */
  private def count(s: org.apache.spark.sql.Row, c: String): Option[Long] =
    Option(s.getAs[java.lang.Long](c)).map(_.longValue)

  test("generated MERGE statements == the plain-Scala model on every route") {
    val seeds = (1 to 12).map(i => i -> (1000L + 37L * i))
    // plus one case whose clause conditions never hold: nothing commits
    val never = Case(0, Target(partitioned = true, evolve = 0, posDel = true,
      eqDel = false), dupKeys = false, List((Some(2L), "a", Some(4L)),
        (Some(33L), "b", None)), List(
        MatchedUpdate(Some(Cond("s", "id", 2, 3)), 1L),
        Insert(Some(Cond("s", "v", 3, 5)), 1L),
        BySourceDelete(Some(Cond("t", "id", 4, 7)))))
    val cases = never +: seeds.map { case (i, seed) => caseOf(i, seed) }
    // the fixed seeds cover every feature the suite claims
    val clauseKinds = cases.flatMap(_.clauses).map(_.getClass.getSimpleName).toSet
    assert(clauseKinds.size === 5, clauseKinds)
    assert(cases.exists(_.source.exists(_._1.isEmpty)), "no NULL source key")
    assert(cases.exists(c => c.dupKeys &&
      c.source.flatMap(_._1).distinct.size < c.source.count(_._1.isDefined)))
    val effects = cases.map(c => model(c, live(c.t))._2)
    info(s"${cases.size} cases x 3 routes; effects ${effects.mkString(", ")}")
    assert(effects.head == 0L && effects.count(_ > 0) >= cases.size / 2,
      effects)
    for (c <- cases; route <- routes) {
      val tname = s"mp_${c.i}_$route"
      val (want, effect) = model(c, live(c.t))
      check(tname, route, c.t, want, effect)(
        _.createDataFrame(c.source).toDF("id", "grp", "v")
          .createOrReplaceTempView(s"${tname}_src"))(
        sql(c, _, s"${tname}_src")) { s =>
        Seq("updated_rows", "deleted_rows", "inserted_rows")
          .flatMap(count(s, _)) match {
          case Nil => s.getAs[Long]("added_records") // insert-only: an append
          case counts => counts.sum
        }
      }
    }
  }

  /** A DELETE or UPDATE's WHERE: a target condition, or the target's id
    * IN a subquery over `keys` (which may hold NULL: a NULL never
    * matches, and an id absent from keys with a NULL is unknown). */
  sealed trait Where {
    def sql(vcol: String, keysView: String): String
    def holds(r: R): Boolean
  }
  case class CondWhere(c: Cond) extends Where {
    def sql(vcol: String, keysView: String): String = c.sql(vcol)
    def holds(r: R): Boolean = c.fires(None, Some(r))
  }
  case class InKeys(keys: List[Option[Long]]) extends Where {
    def sql(vcol: String, keysView: String): String =
      s"t.id IN (SELECT id FROM $keysView)"
    def holds(r: R): Boolean = r._1.exists(id => keys.contains(Some(id)))
  }

  /** One generated DELETE or UPDATE: the target from the case index, the
    * WHERE, the UPDATE's increment `k` and partition move from the
    * seed. */
  case class DmlCase(i: Int, t: Target, delete: Boolean, where: Option[Where],
                     k: Long, moveTo: Option[String]) {
    def sql(targetName: String, keysView: String): String = {
      val cond = where.map(w => s" WHERE ${w.sql(t.vcol, keysView)}")
        .getOrElse("")
      if (delete) s"DELETE FROM $targetName t$cond"
      else s"UPDATE $targetName t SET ${t.vcol} = t.${t.vcol} + $k" +
        moveTo.map(g => s", grp = '$g'").getOrElse("") + cond
    }
    def keys: List[Option[Long]] = where.toList.flatMap {
      case InKeys(ks) => ks
      case _ => Nil
    }
  }

  private val whereGen: Gen[Option[Where]] = Gen.frequency(
    1 -> Gen.const(None),
    3 -> condGen(Seq("t")).map(c => Some(CondWhere(c))),
    2 -> Gen.listOfN(6, Gen.frequency(
      5 -> Gen.choose(1L, 34L).map(Some(_)), 1 -> Gen.const(None)))
      .map(ks => Some(InKeys(ks))))

  private def dmlOf(i: Int, seed: Long): DmlCase = {
    val (where, k, moveTo) = sample(Gen.zip(whereGen, Gen.choose(1L, 9L),
      Gen.option(Gen.oneOf("a", "z"))), seed)
    val delete = ((i + 1) / 2) % 2 == 0
    // case 3 is always the WHERE-less DELETE: the truncate
    DmlCase(i, targetOf(i), delete, if (i == 3) None else where, k, moveTo)
  }

  /** DELETE / UPDATE by the book: the rows the WHERE holds for (every
    * row without one) are deleted, or take `v + k` and the moved
    * partition; returns the rows and that count. */
  private def dmlModel(c: DmlCase, live: Seq[R]): (Seq[R], Long) = {
    val (hit, rest) = live.partition(r => c.where.forall(_.holds(r)))
    if (c.delete) (rest, hit.size.toLong)
    else (rest ++ hit.map(r => (r._1, c.moveTo.getOrElse(r._2),
      r._3.map(_ + c.k), r._4)), hit.size.toLong)
  }

  test("generated DELETE and UPDATE statements == the plain-Scala model on every route") {
    val seeds = (1 to 12).map(i => i -> (2000L + 41L * i))
    // plus an UPDATE whose WHERE never holds: nothing commits
    val never = DmlCase(0, targetOf(0), delete = false,
      Some(CondWhere(Cond("t", "id", 4, 7))), 1L, Some("z"))
    val cases = never +: seeds.map { case (i, seed) => dmlOf(i, seed) }
    // the fixed seeds cover every feature the suite claims
    assert(Set(true, false).forall(d => Set(true, false).forall(p =>
      cases.exists(c => c.delete == d && c.t.partitioned == p))))
    assert(cases.exists(c => c.delete && c.where.isEmpty))
    assert(cases.exists(_.where.exists(_.isInstanceOf[InKeys])))
    assert(cases.exists(_.keys.contains(None)), "no NULL subquery key")
    assert(cases.exists(c => !c.delete && c.where.exists(_.isInstanceOf[CondWhere])))
    assert(cases.exists(c => !c.delete && c.t.partitioned && c.moveTo.nonEmpty))
    val effects = cases.map(c => dmlModel(c, live(c.t))._2)
    info(s"${cases.size} cases x 3 routes; effects ${effects.mkString(", ")}")
    assert(effects.head == 0L && effects.count(_ > 0) >= cases.size / 2,
      effects)
    for (c <- cases; route <- routes) {
      val tname = s"md_${c.i}_$route"
      val (want, effect) = dmlModel(c, live(c.t))
      check(tname, route, c.t, want, effect,
          truncates = c.delete && c.where.isEmpty)(
        _.createDataFrame(c.keys.map(Tuple1(_))).toDF("id")
          .createOrReplaceTempView(s"${tname}_keys"))(
        c.sql(_, s"${tname}_keys"))(
        count(_, if (c.delete) "deleted_rows" else "updated_rows")
          .getOrElse(-1L))
    }
  }

  test("MERGE with matched or by-source clauses plans a WriteDelta, never a ReplaceData") {
    val dir = s"$wh/mp_plan"
    IcebergLite.createTable(spark, Seq((1L, "a", 10L)).toDF("id", "grp", "v"),
      dir)
    Seq((1L, "a", 5L)).toDF("id", "grp", "v").createOrReplaceTempView("mp_plan_src")
    bare.createDataFrame(Seq((1L, "a", 5L))).toDF("id", "grp", "v")
      .createOrReplaceTempView("mp_plan_src")
    for (session <- Seq(spark, bare); clauses <- Seq(
        "WHEN MATCHED THEN DELETE",
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *",
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")) {
      val plan = session.sql(s"EXPLAIN MERGE INTO mcat.mp_plan t USING " +
        s"mp_plan_src s ON t.id = s.id $clauses").head().getString(0)
      assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
        plan)
    }
  }

  test("DELETE and UPDATE plan a WriteDelta, never a ReplaceData; a WHERE-less DELETE truncates") {
    val dir = s"$wh/md_plan"
    IcebergLite.createTable(spark, Seq((1L, "a", 10L)).toDF("id", "grp", "v"),
      dir, partitionBy = Seq("grp"))
    for (session <- Seq(spark, bare)) {
      def plan(stmt: String) =
        session.sql(s"EXPLAIN $stmt").head().getString(0)
      for (stmt <- Seq(
          "DELETE FROM mcat.md_plan WHERE id = 1",
          "DELETE FROM mcat.md_plan t WHERE t.id IN (SELECT 1L)",
          "UPDATE mcat.md_plan SET v = v + 1, grp = 'b' WHERE id = 1",
          "UPDATE mcat.md_plan SET v = 0")) {
        val p = plan(stmt)
        assert(p.contains("WriteDelta") && !p.contains("ReplaceData"), p)
      }
      val p = plan("DELETE FROM mcat.md_plan")
      assert(p.contains("TruncateTable") && !p.contains("WriteDelta"), p)
    }
  }
}
