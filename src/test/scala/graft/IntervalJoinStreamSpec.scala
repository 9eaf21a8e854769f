package graft

import java.sql.Timestamp

import graft.io.Sinks
import graft.ops.RangeJoin
import graft.streaming.StreamingOps

/** The stream-stream interval join must agree with the batch range join:
  * same pairs, same gaps, on the same input — the streaming-twin
  * discipline used for the windowed rollup and sessionization.
  */
class IntervalJoinStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    (1L, ts("2024-01-01 10:00:00")),
    (2L, ts("2024-01-01 10:00:30")),
    (3L, ts("2024-01-01 10:01:00")),
    (4L, ts("2024-01-01 10:02:30")),
    (5L, ts("2024-01-01 10:00:30")),
    (6L, ts("2024-01-01 10:03:10")),
    (7L, ts("2024-01-01 10:03:40"))
  ).toDF("event_id", "ts")

  test("batch intervalJoin equals RangeJoin.pairsWithin") {
    val viaStreamingOp = StreamingOps
      .intervalJoin(sample, "event_id", "ts", 60000L)
      .as[(Long, Long, Long)].collect().toSet
    val viaRangeJoin = RangeJoin.pairsWithin(sample, "event_id", "ts", 60000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaStreamingOp === viaRangeJoin)
    assert(viaStreamingOp.nonEmpty)
  }

  test("stream-stream interval join emits exactly the batch pairs") {
    val dir = s"${Sinks.scratchRoot}/interval_stream"
    sample.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(sample.schema).parquet(dir)
    val q = StreamingOps.intervalJoin(stream, "event_id", "ts", 60000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("interval_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("interval_test")
      .as[(Long, Long, Long)].collect().toSet
    val expected = RangeJoin.pairsWithin(sample, "event_id", "ts", 60000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
  }
}
