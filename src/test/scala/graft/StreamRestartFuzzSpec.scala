package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.Sinks
import graft.streaming.StreamingOps

/** Randomized checkpoint kill-points for the restart path (r10 verdict
  * task 4a): `StreamRestartSpec` pins ONE fixed 2-batch/1-restart
  * scenario; the recovery contract is about ANY kill/redeploy schedule.
  *
  * Each seeded scenario draws: an event sequence over a small id pool
  * (heavy duplication — in-batch, cross-batch, and cross-RESTART dups
  * all arise), a contiguous random split into arrival files, and a
  * random restart decision at every file boundary (files landing
  * between restarts exercise multi-batch recovery in one run; at least
  * one mid-sequence restart is forced). All timestamps sit inside one
  * lateness window, so state is never watermark-evicted and the
  * deterministic contract is exact: output ≡ one row per distinct
  * event_id (first arrival wins), emitted EXACTLY once across every
  * restart — the checkpoint both restores dedup state (a duplicate of
  * a pre-kill id is still dropped) and never re-emits committed rows.
  *
  * Oracle-inexpressible (DuckDB has no checkpoint to kill), so this is
  * the engine-side self-check family `restart_kill` in the PLANS
  * certification map.
  */
class StreamRestartFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Contiguous split of `rows` into `k` non-empty slices. */
  private def split[A](r: Random, rows: Seq[A], k: Int): Seq[Seq[A]] = {
    val cuts = r.shuffle((1 until rows.size).toList).take(k - 1).sorted
    (0 +: cuts :+ rows.size).sliding(2).map {
      case Seq(a, b) => rows.slice(a, b)
    }.toSeq
  }

  test("dedup state + exactly-once sink survive random kill schedules") {
    for (seed <- Seq(901L, 902L, 903L, 904L)) {
      val r = new Random(seed)
      val root = s"${Sinks.scratchRoot}/stream_restart_fuzz/s$seed"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
      // the file source requires the input dir to exist at stream start
      // (the first start may precede the first arrival)
      new java.io.File(inDir).mkdirs()

      // event sequence: ids from a pool of 6 → dups guaranteed; ts
      // strictly ascending, all within the 1h lateness window
      val nEvents = 8 + r.nextInt(8)
      val rows = (0 until nEvents).map { i =>
        ((1 + r.nextInt(6)).toLong, ts(i))
      }
      val schema = rows.take(1).toDF("event_id", "ts").schema
      val nFiles = 2 + r.nextInt(math.min(4, nEvents - 1))
      val files = split(r, rows, nFiles)
      // restart BEFORE file i (i>0)? force at least one mid-sequence kill
      val restartAt = {
        val draw = (1 until nFiles).map(_ => r.nextBoolean())
        if (draw.contains(true)) draw
        else draw.updated(r.nextInt(draw.size), true)
      }

      def start(): StreamingQuery =
        StreamingOps.dedupStream(
          spark.readStream.schema(schema).parquet(inDir),
          Seq("event_id"), lateness = "1 hour")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").start(outDir)

      var q = start()
      var kills = 0
      try {
        files.zipWithIndex.foreach { case (f, i) =>
          if (i > 0 && restartAt(i - 1)) {
            q.stop(); q = start(); kills += 1
          }
          f.toDF("event_id", "ts")
            .coalesce(1).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        }
        // a final no-new-input restart must emit nothing
        q.stop(); q = start(); q.processAllAvailable()
      } finally q.stop()

      val got = spark.read.parquet(outDir)
        .select($"event_id").as[Long].collect().toSeq
      val want = rows.map(_._1).distinct.sorted
      assert(got.sorted === want,
        s"seed=$seed files=${files.map(_.size).mkString("/")} kills=$kills")
      // exactly-once: no id emitted twice across any restart
      assert(got.size === want.size, s"seed=$seed duplicate emission")
      assert(kills >= 1, s"seed=$seed drew no mid-sequence kill")
    }
  }
}
