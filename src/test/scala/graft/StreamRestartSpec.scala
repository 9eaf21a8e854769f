package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.streaming.StreamingOps

/** Checkpoint-recovery semantics: stop a streaming query, add more input,
  * restart it from the same checkpoint — dedup state must survive the
  * restart (a duplicate arriving AFTER the restart is still dropped) and
  * the file sink must stay exactly-once. This is the property that makes
  * an always-on ingest safe to kill and redeploy.
  */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  test("dedup state and file sink survive a query restart exactly-once") {
    val root = s"${Sinks.scratchRoot}/stream_restart"
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    // fresh dirs per run — checkpoints are sticky by design
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))

    def ts(s: String) = Timestamp.valueOf(s)
    def rows(r: (Long, Timestamp)*) = r.toDF("event_id", "ts")
    val schema = rows().schema

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingOps.dedupStream(stream, Seq("event_id"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").start(outDir)
      try q.processAllAvailable() finally q.stop()
    }

    // batch 1: ids 1,2,3 with an in-batch duplicate of 1
    rows((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:00:30")),
         (2L, ts("2024-01-01 10:01:00")), (3L, ts("2024-01-01 10:02:00")))
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    // batch 2 AFTER the stop: a cross-restart duplicate of 3 (within the
    // watermark of its original) plus a genuinely new id 4
    rows((3L, ts("2024-01-01 10:03:00")), (4L, ts("2024-01-01 10:04:00")))
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce() // restarted from the same checkpoint

    val got = spark.read.parquet(outDir)
      .select($"event_id").as[Long].collect().sorted.toSeq
    // the duplicate of 3 was dropped by RECOVERED state; nothing emitted
    // twice; the new row made it through
    assert(got === Seq(1L, 2L, 3L, 4L))
  }
}
