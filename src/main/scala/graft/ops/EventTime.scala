package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship analytic: correlate raw detector events to
  * pulse wall-clock times, then slice/aggregate by time.
  *
  * Semantics follow reference scripts/spark_events_by_time_parquet.py:
  *  - derivePulseTimes   <- load_pulse_times (:95-171): filter the timing
  *    log, order by time, index pulses with row_number()-1. The reference
  *    uses a *global* Window.orderBy; here the window partitions by the
  *    run key so each run sorts independently (a global sort collapses to
  *    a single partition at scale).
  *  - withAbsoluteTime   <- add_absolute_time (:208-243): events join
  *    pulses, absolute = pulse_time + offset.
  *  - countByInterval    <- count_by_interval (:246-293)
  *  - countInTimeRange   <- count_in_time_range (:296-327)
  *  - countByBankAndInterval <- count_by_bank_and_interval (:330-365)
  *
  * All epochs are integral (ns); bucket math uses `div`, never double
  * division, so it is exact beyond 2^53.
  */
object EventTime {

  /** Index timing-log rows into (pulse_index, pulse time) per run.
    *
    * @param daslogs    log table with at least (logNameCol, timeCol)
    * @param timeLog    primary log name (reference default proton_charge)
    * @param alternates fallback log names tried in order when the primary
    *                   has no rows (reference :130-155)
    * @param runKeys    partition keys (run_id); empty = single global run
    * @param tieBreak   extra ordering columns to make indexing total
    */
  def derivePulseTimes(
      daslogs: DataFrame,
      logNameCol: String,
      timeCol: String,
      timeLog: String,
      alternates: Seq[String] = Nil,
      runKeys: Seq[String] = Nil,
      tieBreak: Seq[String] = Nil): DataFrame = {
    def forLog(name: String): DataFrame = {
      val ordering = (timeCol +: tieBreak).map(col)
      val filtered = daslogs
        .filter(col(logNameCol) === name)
        .select((runKeys ++ (timeCol +: tieBreak)).distinct.map(col): _*)
      val indexed =
        if (runKeys.isEmpty)
          // no run key = one global timeline; a bare Window.orderBy would
          // collapse it to a single partition — use the range-partitioned
          // global row number instead (Ranking scaladoc)
          Ranking.globalRowNumber(filtered, ordering, "__rn")
            .withColumn("pulse_index", (col("__rn") - 1).cast("long"))
            .drop("__rn")
        else {
          val w = Window.partitionBy(runKeys.map(col): _*).orderBy(ordering: _*)
          filtered.withColumn("pulse_index",
            (row_number().over(w) - 1).cast("long"))
        }
      indexed.withColumnRenamed(timeCol, "pulse_time")
    }
    val primary = forLog(timeLog)
    // with no alternates the fallback search cannot change the answer
    // (empty or not, primary is returned) — skip its limit-1 probe job
    if (alternates.isEmpty) return primary
    // isEmpty is a cheap limit-1 job; alternates are rare fallbacks.
    (timeLog +: alternates).distinct.view.map(forLog).find(!_.isEmpty)
      .getOrElse(primary)
  }

  /** Attach (pulse_index, pulse_time) to each event via as-of join and
    * compute the absolute event time. `offsetExpr` converts the matched
    * pair into the event's absolute time column.
    */
  def withAbsoluteTime(
      events: DataFrame,
      pulses: DataFrame,
      eventTimeCol: String,
      runKeys: Seq[String],
      bucketWidth: Long): DataFrame =
    AsOfJoin.backward(
      events, pulses,
      leftTime = eventTimeCol, rightTime = "pulse_time",
      keys = runKeys, bucketWidth = bucketWidth,
      rightCols = Seq("pulse_index", "pulse_time"))

  /** Bucket rows into fixed `intervalWidth` slices of `timeCol` (integral
    * epoch), counting events and distinct banks/pulses per slice.
    * One shuffle (the groupBy); partial aggregation happens map-side.
    */
  def countByInterval(
      events: DataFrame,
      timeCol: String,
      intervalWidth: Long,
      bankCol: Option[String],
      pulseCol: Option[String]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      min(col(timeCol)).as("min_time"),
      max(col(timeCol)).as("max_time")) ++
      bankCol.map(b => count_distinct(col(b)).as("n_banks")) ++
      pulseCol.map(p => count_distinct(col(p)).as("n_pulses"))
    events
      .withColumn("interval", expr(s"`$timeCol` div $intervalWidth"))
      .groupBy("interval")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("interval_start", col("interval") * intervalWidth)
      .withColumn("interval_end", (col("interval") + 1) * intervalWidth)
      .orderBy("interval")
  }

  /** Per-bank variant of countByInterval (reference :330-365). */
  def countByBankAndInterval(
      events: DataFrame,
      timeCol: String,
      bankCol: String,
      intervalWidth: Long,
      pulseCol: Option[String]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      min(col(timeCol)).as("min_time"),
      max(col(timeCol)).as("max_time")) ++
      pulseCol.map(p => count_distinct(col(p)).as("n_pulses"))
    events
      .withColumn("interval", expr(s"`$timeCol` div $intervalWidth"))
      .groupBy("interval", bankCol)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("interval_start", col("interval") * intervalWidth)
      .withColumn("interval_end", (col("interval") + 1) * intervalWidth)
      .orderBy("interval", bankCol)
  }

  /** Stats for one [start, end) slice. The range predicate is a plain
    * comparison on the scan column, so it pushes down to parquet.
    */
  def countInTimeRange(
      events: DataFrame,
      timeCol: String,
      start: Long,
      end: Long,
      bankCol: Option[String],
      pulseCol: Option[String]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("event_count"),
      min(col(timeCol)).as("min_time"),
      max(col(timeCol)).as("max_time")) ++
      bankCol.map(b => count_distinct(col(b)).as("n_banks")) ++
      pulseCol.map(p => count_distinct(col(p)).as("n_pulses"))
    events
      .filter(col(timeCol) >= start && col(timeCol) < end)
      .agg(lit(start).as("start_time"), (lit(end).as("end_time") +: aggs): _*)
  }

  /** Batch sessionization: split each key's event stream into sessions
    * wherever the gap to the previous event exceeds `gap` (same units as
    * timeCol). Two windows partitioned by the key — lag to mark session
    * starts, running sum to number them — then one aggregation; nothing
    * global, scales with the key partitioning. (The streaming equivalents
    * live in graft.streaming.Replay.)
    */
  def sessionizeBatch(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      gap: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(timeCol)
    events
      .withColumn("__new_s",
        when(col(timeCol) - lag(col(timeCol), 1).over(w) > gap, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new_s")).over(w).cast("long"))
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(timeCol)).as("session_start"),
        max(col(timeCol)).as("session_end"))
      .orderBy(keyCol, "session_id")
  }

  /** Exclude error/unmapped detector banks (reference
    * extract_events_by_time.py:83-88 drops `*error*` / `*unmapped*` event
    * files by default; here the same policy as a row filter). The match
    * is Java's ASCII-only case-insensitive regex, which keeps exactly
    * the rows `lower(bank)` containing neither needle would: the only
    * non-ASCII code points whose lowercase holds an ASCII letter are
    * U+0130 (to `i̇`) and U+212A (to `k`), and neither needle has an `i`
    * or a `k`. Unlike `lower()` it loads no ICU case-mapping table
    * (a 1.5 s class initialisation in a cold JVM). NULL banks drop.
    */
  def excludeErrorBanks(events: DataFrame, bankCol: String): DataFrame =
    events.filter(!col(bankCol).rlike("(?i)error|unmapped"))

  /** Rebase an integral epoch column to offsets from its global minimum
    * (the reference's times are seconds-from-run-start already; the
    * synthetic events table carries absolute epochs). The min is a single
    * scalar aggregate broadcast to all tasks.
    */
  def withOffsetFromStart(df: DataFrame, timeCol: String, as: String): DataFrame = {
    val m = df.agg(min(col(timeCol)).as("__t0"))
    df.crossJoin(broadcast(m))
      .withColumn(as, col(timeCol) - col("__t0"))
      .drop("__t0")
  }
}
