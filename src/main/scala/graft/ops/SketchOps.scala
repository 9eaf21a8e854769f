package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DdExpressions.{ddAgg, ddMerge, ddQuantile}
import graft.functions.HllExpressions.{hllAgg, hllCount, hllMerge}
import graft.functions.KmvExpressions.{kmvAgg, kmvCount, kmvIntersect, kmvJaccard}

/** Persistable-sketch operators: turn "distinct over an ever-growing
  * history" from a rescan problem into a merge problem.
  *
  * The day-2 shape (mirrors `appendIndex` / `incrementalRefresh`): each
  * batch folds to a few 2^p-byte HLL rows; the SKETCH TABLE is what
  * persists. Any later question that is a union of already-sketched
  * slices — users to date, rolling 7-day actives, cross-segment
  * overlap ceilings — is answered by merging kilobytes, never by
  * rescanning the 100 TB event history. Register-wise max is exactly
  * the union sketch, so incremental ≡ one-shot bit-for-bit (HllSpec
  * pins it).
  */
object SketchOps {

  /** Per-(day, key) HLL sketch table: the persistable unit. One
    * map-side-combined aggregate over the batch; output is |days| rows
    * of 2^p bytes. xxhash64 (not an oracle coin — sketches have no SQL
    * twin anyway) feeds the registers the 64-bit uniform hash HLL
    * assumes.
    */
  def dailySketches(events: DataFrame, keyCol: String = "user_id",
                    tsCol: String = "ts", p: Int = 12): DataFrame =
    events
      // a NULL key is no observation (the approx_count_distinct rule) —
      // and xxhash64(NULL) is a seed constant, not NULL, so filter
      // BEFORE hashing or every null row would count as one phantom key
      .filter(col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), xxhash64(col(keyCol)).as("__h"))
      .groupBy(col("day"))
      .agg(hllAgg(col("__h"), p).as("sketch"))

  /** Distinct-count timeline from the sketch table ALONE: per-day
    * actives plus running to-date distinct via a cumulative register
    * merge. The unpartitioned window is safe by construction — its
    * frame is the |days|-row sketch table, not the event history.
    */
  def distinctTimeline(sketches: DataFrame, p: Int = 12): DataFrame = {
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sketches
      .select(col("day"),
              hllCount(col("sketch"), p).as("daily_users"),
              hllCount(hllMerge(col("sketch"), p).over(w), p)
                .as("users_to_date"))
  }

  /** Cross-engine-CHECKABLE form of the distinct timeline: join the
    * sketch-served estimates with the exact daily / running distincts
    * (one extra events pass — the verification price, not the serving
    * path) and emit the exact counts plus within-`rtol` flags. The raw
    * estimates can never hash-match a SQL twin (register arithmetic
    * over xxhash64 has no DuckDB identity), but the exact counts CAN —
    * and the flags, computed against Spark's own exact counts, ride
    * the same hash: a cross-engine match therefore proves BOTH that
    * the exact timeline is right AND that every sketch estimate was
    * within rtol of the true count. rtol=0.05 is ~3 standard errors at
    * p=12 (1.04/√4096 ≈ 1.6%), looser still in the linear-counting
    * regime these fixtures run in.
    *
    * The running exact distinct deliberately avoids COUNT(DISTINCT)
    * OVER (unsupported, and a buffering window anyway): cumulative
    * distinct = running SUM of first-appearance counts — two bounded
    * aggregates and a |days|-row window.
    */
  def verifiedTimeline(events: DataFrame, sketches: DataFrame,
                       keyCol: String = "user_id", tsCol: String = "ts",
                       p: Int = 12, rtol: Double = 0.05): DataFrame = {
    val est = distinctTimeline(sketches, p)
    val byDay = events.filter(col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), col(keyCol).as("__k"))
    val daily = byDay.groupBy(col("day"))
      .agg(countDistinct(col("__k")).as("exact_daily"))
    val firstSeen = byDay.groupBy(col("__k")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = daily.join(firstSeen, Seq("day"), "left")
      .withColumn("exact_to_date",
        sum(coalesce(col("__new"), lit(0L))).over(w))
    est.join(exact, Seq("day"))
      .select(col("day"), col("exact_daily"), col("exact_to_date"),
              (abs(col("daily_users") - col("exact_daily")) <=
                col("exact_daily") * rtol).as("daily_est_ok"),
              (abs(col("users_to_date") - col("exact_to_date")) <=
                col("exact_to_date") * rtol).as("cum_est_ok"))
  }

  /** Merge a set of sketch rows to one union estimate (e.g. a rolling
    * window or an ad-hoc slice union): one scalar from kilobytes.
    */
  def unionEstimate(sketches: DataFrame, p: Int = 12): DataFrame =
    sketches.agg(hllCount(hllMerge(col("sketch"), p), p).as("distinct_est"))

  /** Day-2 maintenance: fold a new batch of events into the PERSISTED
    * daily sketch table at `path`. Days already present MERGE by
    * register max — so late-arriving events extend their day and
    * re-delivered batches are exact no-ops (at-least-once ingestion
    * needs no dedup ledger; union can never double-count) — and new
    * days insert. Every stage is bounded by batch volume: only the
    * batch is aggregated, only the affected days' existing rows are
    * read back (a handful of KB rows), and the crash-safe
    * [[graft.io.Sinks.mergeByKey]] swap rewrites the kilobyte-scale
    * sketch table, never the event history. Incremental ≡ one-shot
    * bit-for-bit (HllSpec pins it).
    */
  def appendDailySketches(spark: org.apache.spark.sql.SparkSession,
                          path: String, batch: DataFrame,
                          keyCol: String = "user_id",
                          tsCol: String = "ts", p: Int = 12): Unit = {
    // the batch aggregate is consumed twice below (the days collect and
    // the union) — pin it or the whole batch re-aggregates per consumer
    val fresh = dailySketches(batch, keyCol, tsCol, p)
      .transform(graft.CacheScope.pin)
    // bootstrap ONLY on provable absence (fs.exists, the
    // appendDailyValueSketches discipline): a Try around the read took
    // the bootstrap branch on ANY transient read failure and silently
    // REPLACED the affected days' standing sketches with batch-only
    // ones — a permanent undercount; a real read error must propagate
    val p0 = new org.apache.hadoop.fs.Path(path)
    val exists = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p0)
    val merged =
      if (!exists) fresh // bootstrap: no standing table
      else {
        // affected days only: a tiny driver-side list, folded as isin
        // (partition-prunable if the sketch table is day-partitioned)
        val days = fresh.select(col("day")).collect().map(_.getDate(0))
        Tables.read(spark, path)
          .filter(col("day").isin(days.toIndexedSeq: _*))
          .unionByName(fresh)
          .groupBy(col("day"))
          .agg(hllMerge(col("sketch"), p).as("sketch"))
      }
    graft.io.Sinks.mergeByKey(merged, Seq("day"), path)
    fresh.unpersist(false): Unit
  }

  /** Per-day KMV key sketch table: like [[dailySketches]] but the
    * sketch supports SET algebra (intersection/Jaccard), so any
    * cohort-overlap question between already-sketched days is
    * answerable later from kilobytes. Below k distinct keys per day
    * the sketch is the exact distinct-hash set (the oracle-checkable
    * regime); above, the same columns degrade to (k−1)/U(k) estimates.
    */
  def dailyKmvSketches(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", k: Int = 512): DataFrame =
    events
      .filter(col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), xxhash64(col(keyCol)).as("__h"))
      .groupBy(col("day"))
      .agg(kmvAgg(col("__h"), k).as("sketch"))

  /** Day-over-day retention from the KMV sketch table ALONE: for each
    * consecutive-day pair, both days' actives, how many returned, and
    * the retention rate — the product question cohort sketches exist
    * to answer without rescanning events. The self-join runs over the
    * |days|-row sketch table, never the event history.
    */
  def retentionReport(sketches: DataFrame, k: Int = 512): DataFrame = {
    val a = sketches.select(col("day").as("day"), col("sketch").as("__sa"))
    val b = sketches.select(col("day").as("__nd"), col("sketch").as("__sb"))
    a.join(b, col("__nd") === date_add(col("day"), 1))
      .select(col("day"),
              kmvCount(col("__sa"), k).as("dau"),
              kmvCount(col("__sb"), k).as("next_dau"),
              kmvIntersect(col("__sa"), col("__sb"), k).as("returned"))
      .withColumn("retention_rate",
        round(col("returned").cast("double") / col("dau"), 6))
  }

  /** Pairwise overlap matrix between arbitrary sketched cohorts:
    * |cohorts|² sketch pairs, each answered in O(k) — audience-overlap
    * analytics from kilobytes.
    */
  def overlapMatrix(sketches: DataFrame, dimCol: String,
                    k: Int = 512): DataFrame = {
    val a = sketches.select(col(dimCol).as("cohort_a"),
                            col("sketch").as("__sa"))
    val b = sketches.select(col(dimCol).as("cohort_b"),
                            col("sketch").as("__sb"))
    a.join(b, col("cohort_a") < col("cohort_b"))
      .select(col("cohort_a"), col("cohort_b"),
              kmvIntersect(col("__sa"), col("__sb"), k).as("overlap"),
              round(kmvJaccard(col("__sa"), col("__sb"), k), 6)
                .as("jaccard"))
  }

  /** Per-(day, key) DDSketch table of a value column — the QUANTILE
    * member of the persistable family (HLL = distinct, KMV = set
    * algebra, CMS = frequency, Bloom = membership): one map-side-
    * combined aggregate; output rows are sorted (bucket, count) pairs
    * whose size tracks the value DYNAMIC RANGE (log-scaled), never row
    * count. Merge is exact count addition, so any later quantile over
    * any union of sketched slices — rolling p99, to-date medians —
    * comes from kilobytes with the ≤ alpha relative-error guarantee.
    */
  def dailyValueSketches(events: DataFrame, keyCol: String = "event_type",
                         tsCol: String = "ts", valueCol: String = "value",
                         alpha: Double = 0.01): DataFrame =
    events
      .groupBy(to_date(col(tsCol)).as("day"), col(keyCol))
      .agg(ddAgg(col(valueCol).cast("double"), alpha).as("sketch"))

  /** Day-2 maintenance for the ADDITIVE quantile sketch table. Unlike
    * the HLL twin ([[appendDailySketches]], whose register-max merge
    * makes re-delivery a free no-op), count-addition DOUBLE-COUNTS a
    * re-delivered batch — so exactly-once effect comes from an applied-
    * batch ledger that lives INSIDE the table root (`<path>/applied`)
    * and commits ATOMICALLY with the data (`<path>/data`) in one
    * [[graft.io.Sinks.stagedReplace]] swap: a crash anywhere leaves the
    * old root (data + ledger consistent) serving; a re-delivered
    * batchId after success is an exact no-op. Work is bounded by batch
    * volume plus the kilobyte-scale sketch table rewrite.
    *
    * The ledger name must not start with `_` or `.`: Spark treats such
    * paths as hidden, so a read of one warns "All paths were ignored"
    * and succeeds only by Spark's fallback. A table written under the
    * old name (`<path>/_applied`) still reads its ledger from there,
    * and its next swap writes only `applied` — the migration rides the
    * same atomic swap as the data.
    */
  def appendDailyValueSketches(spark: org.apache.spark.sql.SparkSession,
                               path: String, batch: DataFrame,
                               batchId: String,
                               keyCol: String = "event_type",
                               tsCol: String = "ts",
                               valueCol: String = "value",
                               alpha: Double = 0.01): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(path))
    val applied: Set[String] =
      if (!exists) Set.empty
      else {
        val ledger = Seq(s"$path/applied", s"$path/_applied")
          .find(d => fs.exists(new Path(d))).getOrElse(s"$path/applied")
        Tables.read(spark, ledger)
          .select(col("batch_id")).collect().map(_.getString(0)).toSet
      }
    if (applied.contains(batchId)) return // re-delivery: exact no-op
    val fresh = dailyValueSketches(batch, keyCol, tsCol, valueCol, alpha)
    val merged =
      if (!exists) fresh
      else Tables.read(spark, s"$path/data")
        .unionByName(fresh)
        .groupBy(col("day"), col(keyCol))
        .agg(ddMerge(col("sketch")).as("sketch"))
    import spark.implicits._
    val ledger = (applied + batchId).toSeq.sorted.toDF("batch_id")
    graft.io.Sinks.stagedReplace(spark, path) { stage =>
      merged.write.parquet(s"$stage/data")
      ledger.coalesce(1).write.parquet(s"$stage/applied")
    }
  }

  /** Per-(day, key) quantile timeline from the sketch table ALONE:
    * today's p50/p95 plus the trailing-`windowDays` p95 (THE ops
    * latency metric) via a value-RANGE window merge over the sketch
    * rows — each day's sketch is a complete histogram, so the trailing
    * merge needs no day×bucket spine (the plain-SQL twin does); the
    * window frame is the |days·keys|-row sketch table, never events.
    */
  def quantileTimeline(sketches: DataFrame, keyCol: String = "event_type",
                       alpha: Double = 0.01,
                       windowDays: Int = 7): DataFrame = {
    val dayNum = datediff(col("day"), to_date(lit("1970-01-01")))
    val w = Window.partitionBy(col(keyCol)).orderBy(dayNum)
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    sketches
      .withColumn("__w", ddMerge(col("sketch")).over(w))
      .select(col("day"), col(keyCol),
              round(ddQuantile(col("sketch"), 0.5, alpha), 6).as("p50_1d"),
              round(ddQuantile(col("sketch"), 0.95, alpha), 6)
                .as("p95_1d"),
              round(ddQuantile(col("__w"), 0.95, alpha), 6).as("p95_7d"))
  }

  /** Per-key quantile report from the sketch table ALONE: merge the
    * days (exact addition — ≡ sketching the union directly, which is
    * what lets a plain-SQL oracle certify this path), then p50/p95/p99.
    */
  def quantileReport(sketches: DataFrame, keyCol: String = "event_type",
                     alpha: Double = 0.01): DataFrame =
    sketches
      .groupBy(col(keyCol))
      .agg(ddMerge(col("sketch")).as("__all"))
      .select(col(keyCol),
              round(ddQuantile(col("__all"), 0.5, alpha), 6).as("p50"),
              round(ddQuantile(col("__all"), 0.95, alpha), 6).as("p95"),
              round(ddQuantile(col("__all"), 0.99, alpha), 6).as("p99"))
}
