package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming surface. The reference is batch-only (SURVEY
  * §2.9 — `schedule_interval=None`), so streaming is extension scope: the
  * same windowed rollup the batch engine exposes, expressed so one
  * definition serves `read` and `readStream` inputs unchanged.
  */
object StreamingOps {

  /** Tumbling-window rollup (count + sum) keyed by event_type. On a
    * streaming frame the watermark bounds state: late rows beyond
    * `lateness` are dropped and window state is evicted — the property
    * that keeps an always-on 100 TB/day ingest from accumulating
    * unbounded state.
    */
  def windowedRollup(events: DataFrame, window_ : String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", lateness)
      else events
    withWm
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("hour_start"),
              col("event_type"), col("n"), col("v"))
  }

  /** HOPPING (sliding) window rollup — `windowedRollup` generalized to
    * overlapping windows: every event lands in windowDur/slideDur
    * windows (Spark's `window(ts, dur, slide)` explodes the assignment
    * inside codegen; state per open window is still
    * watermark-bounded on a stream). The overlap is what a tumbling
    * rollup cannot express: a 1 h metric refreshed every 15 min sees a
    * spike up to 45 min sooner than the 1 h tumble that contains it.
    * One definition serves batch and readStream unchanged (the
    * windowedRollup discipline).
    */
  def hoppingRollup(events: DataFrame, windowDur: String = "1 hour",
                    slideDur: String = "30 minutes",
                    lateness: String = "30 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", lateness)
      else events
    withWm
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("win_start"),
              col("event_type"), col("n"), col("v"))
  }

  /** Streaming dedup on key columns. On a stream, state is bounded by the
    * watermark (`dropDuplicatesWithinWatermark`): a duplicate arriving
    * within `lateness` of the original is dropped, and state for expired
    * event-times is evicted — the only dedup that survives an unbounded
    * ingest. On a batch frame it degrades to plain dropDuplicates.
    *
    * DETERMINISM CONTRACT: the kept row per key is the first one seen
    * (streaming) / an arbitrary one (batch) — so any NON-key output
    * column is arrival-order-dependent. Downstream logic must consume
    * only the key columns, or columns that are pure functions of them
    * (the discipline CorpusPipeline.curateStream follows by keying on
    * (fingerprint, lang)); anything else is run-to-run flaky by nature.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  lateness: String = "30 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Stream-stream interval self-join: ordered pairs of events whose
    * (ms-truncated) timestamps are within `deltaMs`. Same δ-bin
    * composition as the batch `ops.RangeJoin` — the bin equi-key plus an
    * event-time range condition is ALSO exactly what makes the join legal
    * and state-bounded on streams: with both sides watermarked, Spark's
    * symmetric hash join evicts a buffered row once the opposite side's
    * watermark passes its ts + δ. One definition serves `read` and
    * `readStream` inputs unchanged (the batch plan is two equi-joins
    * unioned, identical to RangeJoin's).
    */
  def intervalJoin(events: DataFrame, idCol: String, tsCol: String,
                   deltaMs: Long, lateness: String = "1 minute"): DataFrame = {
    // truncate FIRST, then watermark the truncated column — watermark
    // metadata rides the exact column the join condition references
    val trunc = events.select(col(idCol).as("id"),
                              date_trunc("millisecond", col(tsCol)).as("ets"))
    val wm = if (events.isStreaming) trunc.withWatermark("ets", lateness)
             else trunc
    val base = wm.withColumn("bin", expr(s"unix_millis(ets) div $deltaMs"))
    val a = base.select(col("id").as("id_a"), col("ets").as("ts_a"),
                        col("bin").as("bin_a"))
    val b = base.select(col("id").as("id_b"), col("ets").as("ts_b"),
                        col("bin").as("bin_b"))
    // The ts_b >= ts_a conjunct is logically implied by the disjunction,
    // but it must appear as an EXPLICIT top-level conjunct: Spark's
    // stream-stream state cleanup only extracts conjunct-level time
    // bounds, and without a lower bound on ts_b the b-side state store
    // would never evict (unbounded growth on a real stream).
    val bound =
      col("ts_b") >= col("ts_a") &&
        (col("ts_a") < col("ts_b") ||
          (col("ts_a") === col("ts_b") && col("id_a") < col("id_b"))) &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $deltaMs MILLISECOND")
    val sameBin = a.join(b, col("bin_b") === col("bin_a") && bound)
    val nextBin = a.join(b, col("bin_b") === col("bin_a") + 1 && bound)
    sameBin.unionByName(nextBin)
      .select(col("id_a"), col("id_b"),
              (unix_millis(col("ts_b")) - unix_millis(col("ts_a")))
                .as("gap_ms"))
  }

  /** Gap sessionization via Spark's NATIVE `session_window` aggregate —
    * the engine-managed twin of `Sessionize.batch` (which implements
    * the same semantics by hand, as lag/cumsum windows). One definition
    * serves both modes: on a stream the watermark bounds the session state and
    * windows emit on close; on a batch frame it is a plain two-phase
    * aggregate (partial session-merge map-side, final merge after one
    * shuffle on the user key — no per-user sort, which is what the
    * lag/cumsum form costs).
    *
    * SEMANTICS (pinned by SessionWindowSpec): merge while diff ≤ gap —
    * Spark folds a window whose start touches the previous window's end
    * (closed-interval merge), so an event at EXACTLY gap still extends
    * the session, agreeing with Sessionize.batch's diff > gap split.
    * The one divergence: `session_end_ms` is last-event + gap (the
    * window's close), not the last event time.
    */
  def sessionWindowRollup(events: DataFrame, gapMinutes: Int = 30,
                          lateness: String = "1 minute"): DataFrame = {
    // null user/ts rows excluded — the Sessionize.batch contract (r9):
    // the native session_window already drops null-ts rows on its own,
    // but KEPT a null-user session, silently diverging from the lag
    // form on dirty input; the explicit guard keeps the two strategies
    // (and batch vs stream) row-identical on ANY input
    val trunc = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
      date_trunc("millisecond", col("ts")).as("tsm"))
    val wm = if (events.isStreaming) trunc.withWatermark("tsm", lateness)
             else trunc
    wm.groupBy(col("user_id"),
        session_window(col("tsm"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"))
  }
}
