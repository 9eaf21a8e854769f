package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap sessionization (extension scope; the reference has no streaming,
  * SURVEY §2.9).
  *
  * Gap-based sessions via lag/cumsum windows — declarative,
  * oracle-checkable. All timestamps are truncated to milliseconds first so
  * the ns-precision parquet source and Spark's µs runtime agree bit-for-bit
  * with the SQL oracle (floor-to-ms is precision-independent). The
  * streaming form is `StreamingOps.sessionWindowRollup`.
  */
object Sessionize {

  /** Batch gap sessionization. Output: one row per (user, session) with
    * epoch-ms bounds and event count.
    *
    * Rows with a null user or null timestamp are EXCLUDED: a session is
    * a gap-bounded run of timestamped events by a known key, and a
    * null-ts row has no defined position in the gap order — Spark
    * windows sort nulls FIRST while SQL engines default NULLS LAST, so
    * an unguarded null either opened a phantom session or silently
    * merged into the key's last one depending on the engine (r9
    * perturbation-fuzz finding).
    */
  def batch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsm"))
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("tsm", date_trunc("millisecond", col("ts")))
      .withColumn("prev", lag(col("tsm"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_millis(col("tsm")) - unix_millis(col("prev")) >
            gapMinutes * 60000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(unix_millis(min(col("tsm"))).as("session_start_ms"),
           unix_millis(max(col("tsm"))).as("session_end_ms"),
           count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_seq"), col("session_start_ms"),
              col("session_end_ms"), col("n_events"))
  }
}
