package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class EventTimeSpec extends SparkSuite {
  import spark.implicits._

  private def logs = Seq(
    ("proton_charge", 30L, 3L), ("proton_charge", 10L, 1L), ("proton_charge", 20L, 2L),
    ("temperature", 5L, 9L)).toDF("log_name", "time", "id")

  test("derivePulseTimes indexes the timing log in time order (ref :95-125)") {
    val p = EventTime.derivePulseTimes(logs, "log_name", "time", "proton_charge",
        runKeys = Seq("log_name"), tieBreak = Seq("id"))
      .select("pulse_index", "pulse_time").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(p === Seq((0L, 10L), (1L, 20L), (2L, 30L)))
  }

  test("derivePulseTimes falls back to alternate log names (ref :130-155)") {
    val p = EventTime.derivePulseTimes(logs, "log_name", "time", "no_such_log",
        alternates = Seq("also_missing", "temperature"),
        runKeys = Seq("log_name"), tieBreak = Seq("id"))
      .select("pulse_index", "pulse_time").as[(Long, Long)].collect().toSeq
    assert(p === Seq((0L, 5L)))
  }

  test("countByInterval buckets with integral division and bounds (ref :246-293)") {
    val ev = Seq(0L, 5L, 9L, 10L, 25L).map(t => (t, "b1", 0L)).toDF("t", "bank", "pulse")
    val out = EventTime.countByInterval(ev, "t", 10L, Some("bank"), Some("pulse"))
      .select("interval", "event_count", "min_time", "max_time", "interval_start", "interval_end")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (0L, 3L, 0L, 9L, 0L, 10L),
      (1L, 1L, 10L, 10L, 10L, 20L),
      (2L, 1L, 25L, 25L, 20L, 30L)))
  }

  test("countInTimeRange filters [start, end) (ref :296-327)") {
    val ev = Seq(0L, 5L, 9L, 10L, 25L).map(t => (t, "b1", 0L)).toDF("t", "bank", "pulse")
    val out = EventTime.countInTimeRange(ev, "t", 5L, 25L, Some("bank"), Some("pulse"))
      .select("start_time", "end_time", "event_count", "min_time", "max_time")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out === ((5L, 25L, 3L, 5L, 10L)))
  }

  test("sessionizeBatch splits on gaps larger than the threshold") {
    val ev = Seq(
      (1L, 0L), (1L, 50L), (1L, 60L),   // session 0
      (1L, 500L), (1L, 510L),           // gap 440 > 100 -> session 1
      (2L, 5L))                          // separate key
      .toDF("user_id", "t")
    val out = EventTime.sessionizeBatch(ev, "user_id", "t", gap = 100L)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 0L, 3L, 0L, 60L),
      (1L, 1L, 2L, 500L, 510L),
      (2L, 0L, 1L, 5L, 5L)))
  }

  test("excludeErrorBanks drops error/unmapped banks by default (ref extract_events_by_time.py:83)") {
    val ev = Seq("bank1_events", "bank_ERROR_events", "bank_unmapped_events", "bank2_events")
      .map(b => (b, 1L)).toDF("bank", "x")
    val kept = EventTime.excludeErrorBanks(ev, "bank")
      .select("bank").as[String].collect().toSet
    assert(kept === Set("bank1_events", "bank2_events"))
  }

  test("excludeErrorBanks keeps exactly the rows the lower().contains filter keeps") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // case variants, the non-ASCII code points with ASCII-letter
    // lowercase (İ, Kelvin K) or near-misses (ı), fullwidth needles,
    // bytes that are not UTF-8, and NULL
    val frags: Seq[Array[Byte]] = Seq("error", "ERROR", "eRrOr", "unmapped",
      "UNMAPPED", "UnMaPpEd", "err", "or", "unm", "apped", "bank", "_", "1",
      "\u0130", "\u212A", "\u0131", "\uFF25\uFF32\uFF32\uFF2F\uFF32",
      "\uFF55\uFF4E\uFF4D\uFF41\uFF50\uFF50\uFF45\uFF44", "\u00DF",
      "\u00C9RROR").map(_.getBytes("UTF-8")) ++
      Seq(Array(0xff), Array(0xc3), Array(0xe2, 0x82), Array(0x80))
        .map(_.map(_.toByte))
    val bank: Gen[Option[Array[Byte]]] = Gen.frequency(
      1 -> Gen.const(None),
      12 -> Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(frags)))
        .map(ps => Some(ps.toArray.flatten)))
    val rows = Gen.listOfN(3000, bank)
      .apply(Gen.Parameters.default, Seed(9L)).get
    val ev = rows.zipWithIndex.map { case (b, i) => (i.toLong, b.orNull) }
      .toDF("id", "raw").selectExpr("id", "CAST(raw AS STRING) AS bank")
    def old(df: org.apache.spark.sql.DataFrame) = df.filter(
      !lower(col("bank")).contains("error") &&
        !lower(col("bank")).contains("unmapped"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    val icu = "spark.sql.icu.caseMappings.enabled"
    val saved = spark.conf.getOption(icu)
    try Seq("true", "false").foreach { v =>
      spark.conf.set(icu, v)
      val want = ids(old(ev))
      assert(ids(EventTime.excludeErrorBanks(ev, "bank")) === want, s"$icu=$v")
      // the sample reaches both sides of the filter, NULL included
      assert(want.nonEmpty && want.size < rows.size - rows.count(_.isEmpty))
    } finally saved match {
      case Some(v) => spark.conf.set(icu, v)
      case None => spark.conf.unset(icu)
    }
  }

  test("withOffsetFromStart rebases to the global minimum") {
    val ev = Seq(100L, 105L, 150L).map(Tuple1(_)).toDF("t")
    val out = EventTime.withOffsetFromStart(ev, "t", "off")
      .select("off").as[Long].collect().sorted.toSeq
    assert(out === Seq(0L, 5L, 50L))
  }

  test("withAbsoluteTime attaches pulses via as-of join (ref :205-243)") {
    val ev = Seq((1L, 12L), (2L, 22L), (3L, 5L)).toDF("event_id", "t")
    val pulses = Seq((10L, 0L), (20L, 1L)).toDF("pulse_time", "pulse_index")
    val out = EventTime.withAbsoluteTime(ev, pulses, "t", Nil, bucketWidth = 8L)
      .select("event_id", "pulse_index")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> -1L))
  }
}
