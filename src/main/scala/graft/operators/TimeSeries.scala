package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series resampling over an event table — the gap-filling /
  * forward-filling step every metrics or training-telemetry pipeline
  * runs before charting or feature extraction. (Beyond-parity: the
  * reference has no time-series operators — SURVEY.md §1.2; this is
  * driver-mandated LLM-pipeline surface.)
  *
  * Scale shape: the per-bucket aggregate is partial-aggregable (one
  * shuffle on truncated-timestamp keys); the dense bucket axis is
  * generated from a single broadcast (lo, hi) row — for sub-day units
  * over years that is at most a few million rows, trivially
  * re-partitionable; the left join shuffles only (bucket, count, sum)
  * tuples; and the forward-fill window is PARTITIONED BY DAY, so the
  * inherently-sequential scan parallelizes across days instead of
  * serializing the whole timeline through one task.
  *
  * Value sums accumulate in DECIMAL(18,6) and surface as DOUBLE — the
  * cross-engine-exact money-sum recipe (double accumulation order
  * differs between engines). */
object TimeSeries {

  /** Resample to a dense `unit` grid (default minute; must be sub-day —
    * the forward-fill window partitions by day): per-bucket event count
    * (0 on gap buckets) and the last known per-bucket value sum carried
    * forward. A gap spanning midnight carries the PRIOR day's close
    * across the boundary (two-pass fill: the only cross-day state is
    * one close value per day, computed over the tiny day-level frame
    * and broadcast back), so `filled_value` is null only before the
    * series' first observation ever. */
  def resample(df: DataFrame, tsCol: String, valueCol: String,
               unit: String = "minute"): DataFrame = {
    require(Seq("minute", "hour", "second").contains(unit),
      s"sub-day unit required (forward fill partitions by day), got $unit")
    // read by the day-close aggregate AND the dense-grid join — one
    // events pass, not two (see Dedup.minhashPairs)
    val buckets = Reuse.Local(df
      .groupBy(date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).as("__sum_dec")))
    val bounds = df.agg(
      date_trunc(unit, min(col(tsCol))).as("lo"),
      date_trunc(unit, max(col(tsCol))).as("hi"))
    val series = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr(s"interval 1 $unit")))
        .as("bucket"))
    // cross-day carry: each day's close (last observed bucket's value),
    // carried forward over the day-level frame. That frame has ONE row
    // per day in the dense range — the unpartitioned window is over
    // thousands of rows at most, then broadcast back; the corpus-scale
    // fill below stays day-partitioned.
    val dayClose = buckets.groupBy(to_date(col("bucket")).as("__day"))
      .agg(max_by(col("__sum_dec"), col("bucket")).as("__close"))
    val days = series.select(to_date(col("bucket")).as("__day")).distinct()
    val wDays = Window.orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = days.join(dayClose, Seq("__day"), "left")
      .select(col("__day"),
        last(col("__close"), ignoreNulls = true).over(wDays).as("__carry"))
    val ffill = Window.partitionBy(to_date(col("bucket"))).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.join(buckets, Seq("bucket"), "left")
      .join(broadcast(carry), to_date(col("bucket")) === col("__day"))
      .select(col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(last(col("__sum_dec"), ignoreNulls = true).over(ffill),
          col("__carry"))
          .cast("double").as("filled_value"))
  }

  /** Sequential-conversion FUNNEL — the ordered-step analytics verb
    * (match-recognize's most common special case): per user, the
    * first-touch time of `steps(0)` anchors the funnel, and each later
    * step counts the user only if an event of that type occurs STRICTLY
    * AFTER the previous step's time and within `windowSeconds` of the
    * anchor. Output: one row per step (step, event_type, users) with
    * monotone non-increasing user counts.
    *
    * Scale shape: one typed filter + (user) aggregate per step, chained
    * by equi-joins on the user id — `steps` is a bounded literal list,
    * so the chain depth is fixed; nothing ever shuffles on more than
    * the user id, and the final report is |steps| 1-row aggregates
    * unioned. Timestamp arithmetic is exact integer microseconds. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             windowSeconds: Long): DataFrame = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      "funnel steps must be distinct event types")
    require(windowSeconds >= 1, s"window must be >= 1 s, got $windowSeconds")
    val deadline = col("__t1") + expr(s"INTERVAL $windowSeconds SECOND")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t1"))
      .withColumn("__tprev", col("__t1"))
    val levels = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__ts"))
        .join(prev, Seq(userCol))
        .filter(col("__ts") > col("__tprev") && col("__ts") <= deadline)
        .groupBy(col(userCol), col("__t1"))
        .agg(min(col("__ts")).as("__tprev"))
    }
    levels.zip(steps).zipWithIndex.map { case ((l, step), i) =>
      l.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("users"))
    }.reduce(_ unionByName _)
  }

  /** Gap-based SESSIONIZATION (batch form; the streaming surface has
    * session WINDOWS in `st_session`): per user, events ordered by
    * (ts, orderCol) start a new session whenever the gap to the
    * previous event exceeds `gapSeconds` — STRICTLY greater, a gap of
    * exactly the threshold stays in-session — and each session reports
    * its event count, bounds, and exact microsecond duration.
    *
    * Scale shape: every window is user-partitioned (never global), the
    * session id a running sum of boundary flags, the report a
    * (user, session) aggregate — all exchanges key on the user id.
    * Time arithmetic is exact integer microseconds (`unix_micros`),
    * never a truncating seconds cast. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 orderCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 1, s"gap must be >= 1 s, got $gapSeconds")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(orderCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapSeconds * 1000000L
    events.select(col(userCol), col(tsCol), col(orderCol))
      .withColumn("__pts", lag(col(tsCol), 1).over(w))
      .withColumn("__new", when(col("__pts").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("__pts")) > gapUs,
        lit(1)).otherwise(lit(0)))
      .withColumn("__sid", sum(col("__new")).over(wRun))
      .groupBy(col(userCol), col("__sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(col(userCol), col("__sid").cast("long").as("session_idx"),
        col("n_events"), col("session_start"), col("session_end"),
        (unix_micros(col("session_end")) -
          unix_micros(col("session_start"))).as("duration_us"))
  }

  /** Event TRANSITION report — the empirical first-order Markov table
    * behind path analysis: per user, consecutive event pairs under the
    * (ts, orderCol) total order, counted per (from, to) with the
    * row-conditional probability `n / Σn(from)` — what "what do users
    * do after an error" reads. Output: (from_type, to_type, n, p).
    *
    * Scale shape: the sequencing window is user-partitioned (never
    * global), the pair count partial-aggregable, and the conditional
    * divides within a |types|²-row aggregate — one window over a tiny
    * frame. p is ONE division of exact counts, round-6. */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  orderCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(orderCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(orderCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("from_type"))
    pairs
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(wFrom).cast("double"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Weekly COHORT RETENTION — the funnel's sibling: each user joins
    * the cohort of their first-seen week, and the matrix counts how
    * many of each cohort were active again `week_offset` weeks later
    * (offset 0 = the cohort size itself). Both sides truncate to ISO
    * week starts, so the day difference is an exact multiple of 7 and
    * the offset is exact integer arithmetic.
    *
    * Scale shape: one (user) aggregate for first-seen, one distinct
    * over (user, week) — both shuffle on the user id only — then an
    * equi-join on the user and a (cohort, offset) count. Output:
    * (cohort DATE, week_offset, users), ordered. */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                maxOffsetWeeks: Int): DataFrame = {
    require(maxOffsetWeeks >= 0,
      s"maxOffsetWeeks must be >= 0, got $maxOffsetWeeks")
    val firstSeen = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("__cohort"))
    val active = events
      .select(col(userCol), date_trunc("week", col(tsCol)).as("__p"))
      .distinct()
    firstSeen.join(active, Seq(userCol))
      .select(to_date(col("__cohort")).as("cohort"),
        (datediff(to_date(col("__p")), to_date(col("__cohort"))) / 7)
          .cast("int").as("week_offset"))
      .filter(col("week_offset") <= maxOffsetWeeks)
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("cohort"), col("week_offset"))
  }
}
