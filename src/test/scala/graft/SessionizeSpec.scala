package graft

import java.sql.Timestamp

import graft.io.Sinks
import graft.streaming.Sessionize

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("batch sessionization splits on the gap") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:05:00")),
      (1L, ts("2024-01-01 10:50:00")), // 45min gap → new session
      (2L, ts("2024-01-01 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Sessionize.batch(events, 30)
      .select($"user_id", $"session_seq", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("null user/ts rows are excluded, not engine-order-dependently " +
       "sessioned (Spark sorts window nulls FIRST, SQL engines LAST)") {
    val events = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00"))),
      (Some(1L), None), // null ts on a keyed user: phantom-session bait
      (None, Some(ts("2024-01-01 10:00:00"))), // null key
      (None, None)
    ).toDF("user_id", "ts")
    val got = Sessionize.batch(events, 30)
      .select($"user_id", $"session_seq", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 1L)))
  }

  test("streaming flatMapGroupsWithState emits every closed session") {
    val dir = s"${Sinks.scratchRoot}/session_stream"
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:05:00")),
      (1L, ts("2024-01-01 10:50:00")), // gap 1 → closes session A
      (1L, ts("2024-01-01 11:40:00")), // gap 2 → closes session B
      (2L, ts("2024-01-01 09:00:00"))
    ).toDF("user_id", "ts")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    Sessionize.runStreamingDemo(spark, stream, 30, "sess_test")
    val got = spark.table("sess_test")
      .select($"user_id", $"n_events", $"closed")
      .as[(Long, Long, Boolean)].collect().toSet
    // user 1 crosses the gap TWICE in one batch: both closed sessions
    // must be emitted (2 events, then 1 event), plus the open tail.
    assert(got === Set((1L, 2L, true), (1L, 1L, true), (1L, 1L, false),
                       (2L, 1L, false)))
  }
}
