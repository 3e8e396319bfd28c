package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Generated sequences of the IcebergLite DataFrame write APIs —
  * `appendSnapshot`, `deleteWhere`, `updateWhere`, `deleteWhereMOR`,
  * `equalityDeleteMOR` (keyed or not, some with an empty key frame),
  * `compact`, `compactSmallFiles` and `sink`/`upsertSink` batches, each
  * keyed step sometimes replayed (scalacheck Gen, FIXED seeds, no
  * shrinking) — checked against a plain-Scala model, over identity,
  * bucket, day, sorted and unpartitioned tables. After every step the
  * table holds the model's rows, the API returns the model's count, a
  * step that changes anything commits exactly one snapshot (an upsert
  * batch one per leg) and a no-op none, a replayed commit key commits
  * nothing, and each snapshot records Iceberg's operation: `append`
  * when it only adds data files, `replace` for a compaction, `delete`
  * when it adds no data file, `overwrite` otherwise. */
class IcebergApiPropertySpec extends SparkSuite {
  import spark.implicits._

  private val wh =
    java.nio.file.Files.createTempDirectory("graft_api_prop_wh").toString

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** A row: id, grp, ts, v. */
  type R = (Long, Option[String], Timestamp, Option[Long])

  private val day0 = Timestamp.valueOf("2026-03-01 00:00:00").getTime
  private def ts(day: Int, hour: Int) =
    new Timestamp(day0 + day * 86400000L + hour * 3600000L)

  private val layouts = Seq(
    (Seq("grp"), Nil), (Seq("bucket[4]:id"), Seq("ts")), (Seq("day:ts"), Nil),
    (Nil, Seq("id")), (Nil, Nil))

  /** A DML predicate; NULL never holds. */
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

  sealed trait Step
  case class Append(rows: List[R]) extends Step
  case class DeleteWhere(c: Cond) extends Step
  /** `grp = 'g2'` (a partition column on one layout) or `v = v * 2`. */
  case class UpdateWhere(c: Cond, setGrp: Boolean) extends Step
  case class DeleteMOR(c: Cond) extends Step
  case class EqDelete(ids: List[Long], key: Option[String]) extends Step
  case object Compact extends Step
  case class CompactSmall(bytes: Long) extends Step
  case class Sink(batch: Long, rows: List[R]) extends Step
  case class Upsert(batch: Long, rows: List[R]) extends Step

  private val rowGen: Gen[R] = for {
    id <- Gen.choose(1L, 60L)
    g <- Gen.frequency(5 -> Gen.oneOf("g1", "g2", "g3").map(Some(_)),
      1 -> Gen.const(None))
    d <- Gen.choose(0, 5)
    h <- Gen.choose(0, 23)
    v <- Gen.frequency(5 -> Gen.choose(-5L, 60L).map(Some(_)),
      1 -> Gen.const(None))
  } yield (id, g, ts(d, h), v)

  private val rowsGen: Gen[List[R]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 8))
    rows <- Gen.listOfN(n, rowGen)
  } yield rows

  private val condGen: Gen[Cond] = for {
    c <- Gen.oneOf("id", "v", "grp")
    v <- Gen.choose(1L, if (c == "grp") 3L else 40L)
  } yield Cond(c, v)

  /** Step `j` of a sequence, followed by its replay for some keyed
    * steps. */
  private def stepGen(j: Int): Gen[List[Step]] = {
    def maybeReplay(s: Step): Gen[List[Step]] =
      Gen.oneOf(true, false).map(r => if (r) List(s, s) else List(s))
    Gen.frequency(
      3 -> rowsGen.map(r => List(Append(r))),
      2 -> condGen.map(c => List(DeleteWhere(c))),
      2 -> (for { c <- condGen; g <- Gen.oneOf(true, false) }
        yield List(UpdateWhere(c, g))),
      2 -> condGen.map(c => List(DeleteMOR(c))),
      2 -> (for {
        ids <- Gen.frequency(1 -> Gen.const(Nil),
          4 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(1L, 60L))))
        keyed <- Gen.oneOf(true, false)
        steps <- maybeReplay(EqDelete(ids, Some(s"eq-$j").filter(_ => keyed)))
      } yield if (keyed) steps else steps.take(1)),
      1 -> Gen.const(List(Compact)),
      1 -> Gen.oneOf(1L << 30, 1L).map(b => List(CompactSmall(b))),
      2 -> rowsGen.flatMap(r => maybeReplay(Sink(j, r))),
      2 -> rowsGen.flatMap(r => maybeReplay(Upsert(j, r))))
  }

  case class Sequence(k: Int, spec: Seq[String], sort: Seq[String],
                      initial: List[R], steps: List[Step])

  private def row(i: Long): R = (i, Some(s"g${i % 3 + 1}").filter(_ => i % 8 != 0),
    ts((i % 6).toInt, (i * 5 % 24).toInt), if (i % 5 == 0) None else Some(i * 10))

  /** Ten sequences, two per layout; two of them start from an empty
    * table, and fixed opening steps cover a keyed equality delete on an
    * empty table (replayed) and one with an empty key frame. */
  private val sequences: Seq[Sequence] = (0 until 10).map { k =>
    val (spec, sort) = layouts(k % layouts.size)
    val empty = k == 3 || k == 7
    val opening: List[Step] =
      if (k == 3) List.fill(2)(EqDelete(List(5L, 6L), Some("eq-open")))
      else if (k == 1) List(EqDelete(Nil, Some("eq-open")))
      else Nil
    Sequence(k, spec, sort,
      if (empty) Nil else (1L to 12L).map(row).toList,
      opening ++ (0 until 6).flatMap(j => sample(stepGen(j), 7000L + 97L * k + j)))
  }

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "grp", "ts", "v")

  /** The rows, the returned count (None: not a count API) and the
    * operation of each snapshot `s` commits by the book, given the
    * commit keys already recorded and whether the table has data files. */
  private def model(s: Step, live: Vector[R], keys: Set[String],
                    hasFiles: Boolean)
      : (Vector[R], Option[Long], Seq[String], Set[String]) = s match {
    case Append(rows) =>
      (live ++ rows, None, if (rows.isEmpty) Nil else Seq("append"), keys)
    case DeleteWhere(c) =>
      val n = live.count(c.holds).toLong
      // survivors rewritten or not: the operation is checked on the files
      (live.filterNot(c.holds), Some(n), if (n == 0) Nil else Seq("*"), keys)
    case UpdateWhere(c, setGrp) =>
      val n = live.count(c.holds).toLong
      (live.map(r => if (!c.holds(r)) r
        else if (setGrp) r.copy(_2 = Some("g2")) else r.copy(_4 = r._4.map(_ * 2))),
        Some(n), if (n == 0) Nil else Seq("overwrite"), keys)
    case DeleteMOR(c) =>
      val n = live.count(c.holds).toLong
      (live.filterNot(c.holds), Some(n), if (n == 0) Nil else Seq("delete"), keys)
    case EqDelete(_, Some(k)) if keys(k) => (live, Some(0L), Nil, keys)
    case EqDelete(ids, key) =>
      val writes = hasFiles && ids.nonEmpty
      (live.filterNot(r => ids.contains(r._1)),
        Some(if (writes) ids.distinct.size.toLong else 0L),
        if (writes || key.isDefined) Seq("delete") else Nil, keys ++ key)
    case Compact => (live, None, Seq("replace"), keys)
    case CompactSmall(_) => (live, None, Seq("replace"), keys)
    case Sink(b, _) if keys(s"batch-$b") => (live, None, Nil, keys)
    case Sink(b, rows) =>
      (live ++ rows, None, if (rows.isEmpty) Nil else Seq("append"),
        if (rows.isEmpty) keys else keys + s"batch-$b")
    case Upsert(_, rows) if rows.isEmpty => (live, None, Nil, keys)
    case Upsert(b, rows) =>
      val (del, add) = (s"upsert-$b-del", s"upsert-$b-add")
      val ids = rows.map(_._1).toSet
      val afterDel = if (keys(del)) live else live.filterNot(r => ids(r._1))
      (if (keys(add)) afterDel else afterDel ++ rows, None,
        (if (keys(del)) Nil else Seq("delete")) ++
          (if (keys(add)) Nil else Seq("append")), keys + del + add)
  }

  /** Run `s` on the table at `dir`; the count it returns, if any. */
  private def run(s: Step, dir: String, spec: Seq[String]): Option[Long] =
    s match {
      case Append(rows) =>
        IcebergLite.appendSnapshot(spark, frame(rows), dir, partitionBy = spec)
        None
      case DeleteWhere(c) => Some(IcebergLite.deleteWhere(spark, dir, c.column))
      case UpdateWhere(c, setGrp) =>
        Some(IcebergLite.updateWhere(spark, dir, c.column,
          Seq(if (setGrp) "grp" -> lit("g2") else "v" -> col("v") * 2)))
      case DeleteMOR(c) => Some(IcebergLite.deleteWhereMOR(spark, dir, c.column))
      case EqDelete(ids, key) =>
        Some(IcebergLite.equalityDeleteMOR(spark, dir, ids.toDF("id"), key))
      case Compact => IcebergLite.compact(spark, dir); None
      case CompactSmall(b) => Some(IcebergLite.compactSmallFiles(spark, dir, b))
      case Sink(b, rows) =>
        IcebergLite.sink(dir, partitionBy = spec)(frame(rows), b); None
      case Upsert(b, rows) =>
        IcebergLite.upsertSink(dir, Seq("id"), partitionBy = spec)(frame(rows), b)
        None
    }

  /** (path, content, added snapshot) of every live file. */
  private def files(dir: String): Seq[(String, Int, Long)] =
    IcebergLite.metaTable(spark, dir, "files")
      .select("file_path", "content", "added_snapshot_id")
      .as[(String, Int, Long)].collect().toSeq

  test("generated DataFrame write sequences == the plain-Scala model") {
    // the fixed seeds cover every step kind and a replay of each keyed one
    val steps = sequences.flatMap(_.steps)
    assert(steps.map(_.getClass.getSimpleName).toSet === Set("Append",
      "DeleteWhere", "UpdateWhere", "DeleteMOR", "EqDelete", "Compact$",
      "CompactSmall", "Sink", "Upsert"))
    def replayed(p: Step => Boolean) = sequences.exists(q =>
      q.steps.zip(q.steps.drop(1)).exists { case (a, b) => p(a) && a == b })
    assert(replayed(_.isInstanceOf[Sink]) && replayed(_.isInstanceOf[Upsert]) &&
      replayed { case EqDelete(_, k) => k.isDefined; case _ => false })
    info(s"${sequences.size} sequences, ${steps.size} steps")
    for (q <- sequences) {
      val dir = s"$wh/seq_${q.k}"
      if (q.initial.isEmpty)
        IcebergLite.createEmptyTable(spark, frame(Nil).schema, dir,
          partitionBy = q.spec, sortBy = q.sort)
      else
        IcebergLite.createTable(spark, frame(q.initial), dir,
          partitionBy = q.spec, sortBy = q.sort)
      var live = q.initial.toVector
      var keys = Set.empty[String]
      for ((s, i) <- q.steps.zipWithIndex) {
        val what = s"sequence ${q.k} (${q.spec}, sort ${q.sort}) step $i: $s"
        val before = files(dir)
        val snapsBefore = IcebergLite.snapshotIds(spark, dir)
        val hasFiles = before.exists(_._2 == 0)
        val (want, count, ops, keysAfter) = model(s, live, keys, hasFiles)
        val got =
          if (!hasFiles && (s == Compact || s.isInstanceOf[CompactSmall])) {
            val e = intercept[IllegalArgumentException](run(s, dir, q.spec))
            assert(e.getMessage.contains("no data files"), what)
            None
          } else run(s, dir, q.spec)
        live = want; keys = keysAfter
        assert(IcebergLite.readTable(spark, dir).select("id", "grp", "ts", "v")
          .as[R].collect().toSeq.sortBy(_.toString) ===
          want.sortBy(_.toString), what)
        if (!s.isInstanceOf[CompactSmall]) assert(got === count, what)
        val after = files(dir)
        val snaps = IcebergLite.snapshotIds(spark, dir).drop(snapsBefore.size)
        val added = after.filter(f => snaps.contains(f._3))
        val removed = before.filter(_._2 == 0).map(_._1).toSet --
          after.filter(_._2 == 0).map(_._1)
        val expectOps = s match {
          // a compaction commits iff it rewrites a file: what it returns
          case CompactSmall(_) if hasFiles =>
            assert(got.contains(removed.size.toLong), what)
            if (removed.isEmpty) Nil else Seq("replace")
          case _ if !hasFiles && (s == Compact || s.isInstanceOf[CompactSmall]) =>
            Nil
          // Iceberg's rule, on the files the snapshot added and removed
          case DeleteWhere(_) if ops.nonEmpty =>
            Seq(if (added.exists(_._2 == 0)) "overwrite" else "delete")
          case _ => ops
        }
        val recorded = IcebergLite.metaTable(spark, dir, "snapshots")
          .filter(col("snapshot_id").isin(snaps: _*))
          .orderBy("snapshot_id").select("operation").as[String].collect().toSeq
        assert(recorded === expectOps, what)
        if (recorded.size == 1 && recorded.head != "replace") {
          val rule =
            if (!added.exists(_._2 == 0)) "delete"
            else if (removed.isEmpty && !added.exists(_._2 != 0)) "append"
            else "overwrite"
          assert(recorded.head === rule, what)
        }
      }
    }
  }
}
