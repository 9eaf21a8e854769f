package graft

import java.sql.Timestamp

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
}
