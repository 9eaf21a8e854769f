package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key trailing-window (rolling) aggregates over an event stream —
  * the time-series staple (7-day moving average, trailing error rate)
  * expressed as a VALUE-RANGE window frame, not a row frame: the frame
  * is "every event of this key within the last N hours", so irregular
  * event spacing and timestamp ties are handled by definition (a row
  * frame of k rows silently changes meaning with event density).
  *
  * Physical shape: one shuffle keyed by the partition key, one ordered
  * scan per key group with an incrementally-maintained frame — no
  * self-join (the naive trailing join is |events|·|window| rows), no
  * global sort, per-key groups bounded. The frame orders by epoch
  * MICROS (the full timestamp precision) so engine boundaries cannot
  * disagree on membership at sub-second spacings.
  */
object TimeSeries {

  /** Trailing count + mean of `valCol` over the last `hours` hours
    * (inclusive of the current instant; ties share a frame), per key.
    * Output: input row id, key, epoch-ms instant, trail_n, trail_avg
    * (round 6; null when the frame holds only null values).
    */
  def rollingAgg(events: DataFrame, idCol: String, keyCol: String,
                 tsCol: String, valCol: String, hours: Int): DataFrame = {
    require(hours >= 1, s"hours must be >= 1, got $hours")
    val micros = hours.toLong * 3600L * 1000000L
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us"))
      .rangeBetween(-micros, 0L)
    events
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(col(idCol), col(keyCol),
              unix_millis(col(tsCol)).as("ts_ms"),
              col(valCol).as("__v"),
              unix_micros(col(tsCol)).as("__us"))
      .withColumn("trail_n", count(col("__v")).over(w))
      .withColumn("trail_avg", round(avg(col("__v")).over(w), 6))
      .select(col(idCol), col(keyCol), col("ts_ms"), col("trail_n"),
              col("trail_avg"))
  }

  /** Daily user CHURN census — per observed day: users NEW (active
    * today, not yesterday), RETAINED (both days), and CHURNED (active
    * yesterday, gone today). Computed by CONTRIBUTION EXPLOSION over
    * the deduplicated (user, day) pairs (each pair votes "present
    * today" for its day and "present yesterday" for the next day; one
    * per-(day, user) max-flag aggregate resolves the votes) — the same
    * events-collapse-first shape as `activeUsers`, so the whole census
    * is proportional to users·activity-days, never events. Only days
    * observed in the data are reported.
    */
  /** `horizonDays` (default 1 — the board pin) is the look-back window:
    * "retained" means active today AND active `horizonDays` ago; a
    * user whose last activity was `horizonDays` ago churns on the day
    * the window slides past them. Production churn definitions tune
    * this (1/7/28-day), so it is configuration.
    */
  def userChurn(events: DataFrame, userCol: String = "user_id",
                tsCol: String = "ts",
                horizonDays: Int = 1): DataFrame = {
    require(horizonDays >= 1, s"horizonDays must be >= 1 (got $horizonDays)")
    val pairs = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
      .transform(graft.CacheScope.pin)
    val votes = pairs
      .select(col("__u"), col("__d"), lit(1).as("__t"), lit(0).as("__y"))
      .unionByName(pairs.select(col("__u"),
                                date_add(col("__d"), horizonDays).as("__d"),
                                lit(0).as("__t"), lit(1).as("__y")))
    val per = votes.groupBy(col("__d"), col("__u"))
      .agg(max(col("__t")).as("t"), max(col("__y")).as("y"))
    per.join(pairs.select(col("__d")).distinct(), "__d")
      .groupBy(col("__d"))
      .agg(sum(when(col("t") === 1 && col("y") === 0, 1L)
                 .otherwise(0L)).as("n_new"),
           sum(when(col("t") === 1 && col("y") === 1, 1L)
                 .otherwise(0L)).as("n_retained"),
           sum(when(col("t") === 0 && col("y") === 1, 1L)
                 .otherwise(0L)).as("n_churned"))
      .select(date_format(col("__d"), "yyyy-MM-dd").as("day"),
              col("n_new"), col("n_retained"), col("n_churned"))
  }

  /** Per-type hourly-volume TREND LINES — closed-form OLS (slope per
    * hour, intercept at the corpus's first hour, R²) via the SQL-standard
    * `regr_*` aggregate family, which both engines compute from the same
    * five running sums (n, Σx, Σy, Σxy, Σx²) with map-side combine — a
    * trend over a month of 100 TB telemetry costs one hourly rollup plus
    * one tiny aggregate, no gradient loop, no driver math. The x axis is
    * hours since the global first hour (a 1-row broadcast), keeping the
    * regression conditioning independent of the epoch.
    */
  def trendLines(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts"): DataFrame = {
    val hourly = events
      .filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(typeCol),
               date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__hs", unix_seconds(col("__h")))
    val origin = hourly.agg(min(col("__hs")).as("__min"))
    hourly.crossJoin(broadcast(origin))
      .withColumn("__x",
        ((col("__hs") - col("__min")) / 3600L).cast("double"))
      .withColumn("__y", col("__n").cast("double"))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_hours"),
           round(regr_slope(col("__y"), col("__x")), 6)
             .as("slope_per_hour"),
           round(regr_intercept(col("__y"), col("__x")), 6)
             .as("intercept"),
           round(regr_r2(col("__y"), col("__x")), 6).as("r2"))
  }

  /** Exact cohort retention matrix — users cohorted by their FIRST
    * activity week, then for every (cohort, weeks-since) cell the
    * number of cohort members active that week and the retention rate.
    * The exact contract behind the KMV set-algebra retention sketch
    * (`SketchOps` — kilobytes per cohort at 100 TB); this operator is
    * the truth the sketch approximates, and the shape every growth
    * dashboard renders as the retention triangle.
    *
    * Scale shape: raw events collapse FIRST to distinct (user, week)
    * pairs (one map-side-combined aggregate — everything downstream is
    * proportional to users·active-weeks, never events); the cohort
    * frame is one min-aggregate keyed by user; the matrix is one
    * narrow join + count-distinct.
    */
  /** `granularity` ∈ {"day", "week"} (default week — the board pin):
    * the cohort bucket and the offset unit move together, and the
    * offset stays exact integer day arithmetic on both engines (month
    * buckets are deliberately excluded — month-difference semantics
    * are engine-defined). Output column names are granularity-stable
    * so the oracle pairing never moves.
    */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts",
                      granularity: String = "week"): DataFrame = {
    require(granularity == "week" || granularity == "day",
            s"granularity must be day|week (got $granularity)")
    val span = if (granularity == "week") 7 else 1
    val weeks = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
              date_trunc(granularity, col(tsCol)).cast("date").as("__w"))
      .distinct()
      .transform(graft.CacheScope.pin)
    val cohort = weeks.groupBy(col("__u")).agg(min(col("__w")).as("__cw"))
    val sizes = cohort.groupBy(col("__cw"))
      .agg(count(lit(1)).as("__size"))
    weeks.join(cohort, "__u")
      .withColumn("week_offset",
        expr(s"datediff(__w, __cw) div $span").cast("int"))
      .groupBy(col("__cw"), col("week_offset"))
      .agg(countDistinct(col("__u")).as("n_active"))
      .join(sizes, "__cw")
      .select(date_format(col("__cw"), "yyyy-MM-dd").as("cohort_week"),
              col("week_offset"), col("n_active"),
              col("__size").as("cohort_size"),
              round(col("n_active").cast("double") / col("__size"), 6)
                .as("retention"))
  }

  /** Event transition matrix — P(next event type | current) per user
    * journey (the Markov path-analysis staple behind "what do users do
    * after a view?"). Consecutive pairs come from one lag window per
    * user ordered by (ts, tiebreak) — per-key bounded, no self-join —
    * then two narrow aggregates (pair counts, per-source totals).
    * Output: (from_type, to_type, n, p round 6), p summing to 1 per
    * from_type.
    */
  /** `step` (default 1 — the board pin) is the journey depth:
    * P(type at position i+step | type at i) — step 2 asks "what do
    * users do TWO events after a view", the path-analysis dial.
    */
  def transitions(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", typeCol: String = "event_type",
                  tiebreakCol: String = "event_id",
                  step: Int = 1): DataFrame = {
    require(step >= 1, s"step must be >= 1 (got $step)")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val pairs = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
              col(typeCol).isNotNull)
      .select(col(userCol), col(typeCol).as("from_type"),
              col(tsCol), col(tiebreakCol))
      .withColumn("to_type", lead(col("from_type"), step).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
              round(col("n").cast("double") / col("__tot"), 6).as("p"))
  }

  /** Hourly-volume anomaly flags — the observability staple: per
    * (event_type, hour), the z-score of that hour's event count
    * against its TRAILING baseline (the previous `windowDays` days of
    * hourly counts, EXCLUDING the current hour so a spike cannot
    * absorb itself into its own baseline). Hours whose |z| clears the
    * threshold flag as anomalies; hours with fewer than two baseline
    * points have no defined deviation and flag null (never a 0/0).
    *
    * Physical shape: one partial→final hourly aggregate (map-side
    * combine over raw events), then per-type VALUE-RANGE window
    * mean/stddev over the tiny hourly frame — all post-aggregate work
    * is proportional to types·hours, never events.
    */
  def anomalyFlags(events: DataFrame, windowDays: Int = 7,
                   zThreshold: Double = 3.0,
                   typeCol: String = "event_type",
                   tsCol: String = "ts",
                   gapFill: Boolean = false): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1")
    val counted = events
      .filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(typeCol),
               date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__hs", unix_seconds(col("__h")))
    // gapFill: complete each type's hourly series over the GLOBAL
    // [min, max] hour span with n = 0 rows — without it, an hour with
    // ZERO events has no row, so a total outage is invisible to the
    // z-score (the worst anomaly is the one the unfilled series can't
    // see). The spine is types × hours — tiny next to events — built
    // from a 1-row global span broadcast, never a range join.
    val hourly =
      if (!gapFill) counted
      else {
        val span = counted.agg(min(col("__hs")).as("__lo"),
                               max(col("__hs")).as("__hi"))
        val spine = counted.select(col(typeCol)).distinct()
          .crossJoin(broadcast(span))
          .select(col(typeCol),
                  explode(sequence(col("__lo"), col("__hi"),
                                   lit(3600L))).as("__hs"))
        spine.join(counted.select(col(typeCol), col("__hs"), col("n")),
                   Seq(typeCol, "__hs"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
      }
    val horizon = windowDays.toLong * 24L * 3600L
    val w = Window.partitionBy(col(typeCol)).orderBy(col("__hs"))
      .rangeBetween(-horizon, -3600L)
    hourly
      .withColumn("base_n", count(col("n")).over(w))
      .withColumn("__mean", avg(col("n")).over(w))
      .withColumn("__sd", stddev_samp(col("n")).over(w))
      .withColumn("zscore",
        round((col("n") - col("__mean")) /
              nullif(col("__sd"), lit(0.0)), 6))
      .select(col(typeCol), (col("__hs") * 1000L).as("hour_ms"),
              col("n"), col("base_n"), col("zscore"),
              (abs(col("zscore")) >= zThreshold).as("is_anomaly"))
  }

  /** Exact trailing-window active users — DAU, WAU-style trailing
    * distinct count, and stickiness (DAU/WAU) per observed day. The
    * sliding distinct-count is computed by CONTRIBUTION EXPLOSION, not
    * a per-day window re-scan: the deduplicated (user, day) activity
    * pairs each contribute to the `days` trailing windows that contain
    * them, so the shuffle is bounded by days·|distinct pairs| — at
    * 100 TB the raw event volume collapses to the tiny distinct-pairs
    * frame FIRST (one map-side-combined aggregate), and everything
    * downstream is proportional to users·activity-days, never events.
    * The mergeable-sketch twin for cheaper trailing windows at higher
    * cardinalities is the HLL path (`SketchOps`); this is the exact
    * contract. Only days observed in the data are reported.
    */
  def activeUsers(events: DataFrame, days: Int = 7,
                  userCol: String = "user_id",
                  tsCol: String = "ts"): DataFrame = {
    require(days >= 1, s"days must be >= 1, got $days")
    val pairs = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
      .transform(graft.CacheScope.pin)
    val observed = pairs.select(col("__d")).distinct()
    val contrib = pairs
      .select(col("__u"),
              explode(sequence(lit(0), lit(days - 1))).as("__k"),
              col("__d"))
      .select(col("__u"), date_add(col("__d"), col("__k")).as("__d"))
    val wau = contrib.join(observed, "__d")
      .groupBy(col("__d")).agg(countDistinct(col("__u")).as("wau"))
    val dau = pairs.groupBy(col("__d")).agg(count(lit(1)).as("dau"))
    dau.join(wau, "__d")
      .select(date_format(col("__d"), "yyyy-MM-dd").as("day"),
              col("dau"), col("wau"),
              round(col("dau").cast("double") / col("wau"), 6)
                .as("stickiness"))
  }
}
