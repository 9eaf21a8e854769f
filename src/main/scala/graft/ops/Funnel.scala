package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered conversion-funnel analysis over an event stream — the
  * product-analytics staple (view → click → purchase): how many users
  * reach each step, where a step only counts if it happens STRICTLY
  * AFTER the user's entry into the previous step (earliest qualifying
  * time, the standard "first touch" semantics), optionally within a
  * bounded gap.
  *
  * Physical shape at scale: the event stream reduces to a narrow
  * (user, type, ts) projection (persisted once, shared by every step);
  * each step is one min-aggregate with map-side combine joined to the
  * previous step's per-user entry times on the user key — k steps cost
  * k narrow hash-joins/aggregates over step-filtered slices, never a
  * per-user event-list collect and never a window over whole user
  * histories (a skewed power user costs nothing: the aggregate
  * combines partials). The census is k one-row aggregates unioned —
  * deliberately NOT a groupBy over per-user rows, so a step reached by
  * zero users still reports n_users = 0 (the engine and the SQL twin
  * agree on empty levels).
  *
  * Output: (step 1-based, event_type, n_users, conversion) where
  * conversion = n_step / n_prev rounded 6 (step 1 converts at 1.0;
  * null when the previous step is empty — no 0/0 NaN can cross the
  * oracle boundary).
  */
object Funnel {

  def funnel(events: DataFrame, steps: Seq[String],
             userCol: String = "user_id", tsCol: String = "ts",
             typeCol: String = "event_type",
             maxGapHours: Option[Int] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
            s"repeated step types not supported: $steps")
    val ev = events
      .filter(col(typeCol).isin(steps: _*) &&
              col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
              col(tsCol).as("__ts"))
      .transform(graft.CacheScope.pin)
    var prev: DataFrame = null
    val censusLevels = steps.zipWithIndex.map { case (s, i) =>
      val cur =
        if (i == 0)
          ev.filter(col("__t") === s)
            .groupBy(col("__u")).agg(min(col("__ts")).as("__pts"))
        else {
          val gap: Column = maxGapHours
            .map(h => col("__ts") <= col("__pts") +
                        expr(s"INTERVAL $h HOURS"))
            .getOrElse(lit(true))
          ev.filter(col("__t") === s)
            .join(prev.select(col("__u"), col("__pts")), "__u")
            .filter(col("__ts") > col("__pts") && gap)
            .groupBy(col("__u")).agg(min(col("__ts")).as("__pts"))
        }
      // each level feeds the next AND its own 1-row census
      val level = cur.transform(graft.CacheScope.pin)
      prev = level
      level.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(s).as("event_type"),
                col("n_users"))
    }
    val census = censusLevels.reduce(_ unionByName _)
    census.as("c")
      .join(census.select((col("step") + 1).as("step"),
                          col("n_users").as("__prev_n")),
            Seq("step"), "left")
      .withColumn("conversion",
        round(col("n_users").cast("double") /
              nullif(coalesce(col("__prev_n"), col("n_users"))
                       .cast("double"), lit(0.0)), 6))
      .select(col("step"), col("event_type"), col("n_users"),
              col("conversion"))
  }

  /** LINEAR multi-touch attribution: every conversion splits its value
    * equally across ALL touch events in its trailing window
    * ((t − window, t] per user) — the complement of last-touch (the
    * as-of composition in q_attribution), which hands the whole credit
    * to one click. Conversions with no in-window touch report under
    * 'direct'.
    *
    * Scale shape: the trailing-window match is a bounded-interval join,
    * NOT a theta-join — both sides bin into window-wide time buckets
    * and an in-window pair can only land in the same or previous bucket
    * (the RangeJoin.pairsWithin composition, keyed here by
    * (user, bin)), so Catalyst plans two equi-joins instead of a
    * nested-loop product; candidates are O(events · per-user window
    * density). Credit arithmetic is two narrow aggregates (per-
    * conversion touch count, per-channel sum).
    *
    * Output: (channel, touches, credit round 4) — touches = credited
    * touch events for a channel row / uncredited conversions for the
    * 'direct' row; the 'direct' row appears (0, null) even when empty,
    * in both engines.
    */
  def linearAttribution(events: DataFrame, windowHours: Int,
                        channelCol: org.apache.spark.sql.Column,
                        convType: String = "purchase",
                        touchType: String = "click",
                        userCol: String = "user_id", tsCol: String = "ts",
                        idCol: String = "event_id",
                        valCol: String = "value",
                        typeCol: String = "event_type"): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1")
    val delta = windowHours.toLong * 3600L * 1000L
    val base = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("__ms",
        unix_millis(date_trunc("millisecond", col(tsCol))))
      .withColumn("__bin", expr(s"__ms div ${delta}L"))
    val p = base.filter(col(typeCol) === convType)
      .select(col(idCol).as("__pid"), col(userCol).as("__u"),
              col("__ms").as("__pms"), col("__bin").as("__pbin"),
              coalesce(col(valCol), lit(0.0)).as("__val"))
    val c = base.filter(col(typeCol) === touchType)
      .select(col(userCol).as("__u"), col("__ms").as("__cms"),
              col("__bin").as("__cbin"), channelCol.as("channel"))
    val bound = col("__cms") <= col("__pms") &&
                col("__cms") > col("__pms") - delta
    val keep = Seq(col("__pid"), col("__val"), col("channel"))
    val m0 = p.join(c, p("__u") === c("__u") &&
                       col("__cbin") === col("__pbin") && bound)
      .select(keep: _*)
    val m1 = p.join(c, p("__u") === c("__u") &&
                       col("__cbin") === col("__pbin") - 1 && bound)
      .select(keep: _*)
    val m = m0.unionByName(m1)
      .transform(graft.CacheScope.pin)
    val perConv = m.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
    val channelRows = m.join(perConv, "__pid")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("touches"),
           round(sum(col("__val") / col("__n")), 4).as("credit"))
    val direct = p
      .join(m.select(col("__pid")).distinct(), Seq("__pid"), "left_anti")
      .agg(count(lit(1)).as("touches"),
           round(sum(col("__val")), 4).as("credit"))
      .select(lit("direct").as("channel"), col("touches"), col("credit"))
    channelRows.unionByName(direct)
  }
}
