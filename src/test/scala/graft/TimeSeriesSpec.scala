package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.ops.TimeSeries
import graft.streaming.StreamingOps

/** Hopping-window rollups and value-range rolling aggregates. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("hopping rollup: every event lands in exactly window/slide " +
       "windows; the tumbling rollup is the slide=window special case") {
    val events = Tables.load(spark, sfDir, "events")
      .select($"ts", $"event_type", $"value")
    val hop = StreamingOps.hoppingRollup(events, "1 hour", "30 minutes")
    val nEvents = events.filter($"ts".isNotNull).count()
    val massed = hop.agg(sum($"n")).as[Long].head()
    assert(massed === 2 * nEvents, "each event must hit exactly 2 windows")
    // slide = window degenerates to the tumbling rollup
    val tumbleViaHop = StreamingOps
      .hoppingRollup(events, "1 hour", "1 hour")
      .as[(String, String, Long, Double)].collect().toSet
    val tumble = StreamingOps.windowedRollup(events)
      .as[(String, String, Long, Double)].collect().toSet
    assert(tumbleViaHop === tumble)
  }

  test("streaming hopping rollup equals the batch rollup") {
    val events = Tables.load(spark, sfDir, "events")
      .select($"ts", $"event_type", $"value")
    val dir = s"${Sinks.scratchRoot}/hop_stream_in"
    events.write.mode("overwrite").parquet(dir)
    val batch = StreamingOps.hoppingRollup(events)
      .orderBy($"win_start", $"event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = StreamingOps.hoppingRollup(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hop_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hop_test")
      .orderBy($"win_start", $"event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === batch)
  }

  test("rollingAgg equals a driver-side trailing-window walk; frame is " +
       "value-based (ties share a frame), not row-based") {
    val events = Tables.load(spark, sfDir, "events")
    val got = TimeSeries
      .rollingAgg(events, "event_id", "user_id", "ts", "value", hours = 24)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    val rows = events
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .select($"event_id", $"user_id", unix_micros($"ts"),
              $"value")
      .as[(Long, Long, Long, Option[Double])].collect()
    val byUser = rows.groupBy(_._2)
    val win = 24L * 3600 * 1000000
    var checked = 0
    byUser.values.foreach { us =>
      us.foreach { case (id, _, t, _) =>
        val frame = us.filter(r => r._3 >= t - win && r._3 <= t)
        val vals = frame.flatMap(_._4)
        val wantN = vals.length.toLong
        val wantAvg =
          if (vals.isEmpty) None
          else Some(math.rint(vals.sum / vals.length * 1e6) / 1e6)
        val (gotN, gotAvg) = got(id)
        assert(gotN === wantN, s"event $id trail_n")
        (gotAvg, wantAvg) match {
          case (Some(g), Some(w)) => assert(math.abs(g - w) < 1e-6)
          case (g, w) => assert(g === w)
        }
        checked += 1
      }
    }
    assert(checked === got.size && checked > 0)
    spark.catalog.clearCache()
  }

  test("activeUsers equals a brute-force trailing-window distinct count " +
       "on the real events table; dau <= wau; stickiness in (0, 1]") {
    val events = Tables.load(spark, sfDir, "events")
    val got = TimeSeries.activeUsers(events, days = 7)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val pairs = events
      .filter($"user_id".isNotNull && $"ts".isNotNull)
      .select($"user_id", to_date($"ts").as("d"))
      .distinct()
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val days = pairs.map(_._2).distinct
    assert(got.keySet === days.map(_.toString).toSet)
    days.foreach { d =>
      val dau = pairs.count(_._2 == d).toLong
      val wau = pairs.filter { case (_, a) =>
        !a.isAfter(d) && a.isAfter(d.minusDays(7)) }
        .map(_._1).distinct.length.toLong
      val (gd, gw, gs) = got(d.toString)
      assert(gd === dau && gw === wau, s"day $d")
      assert(gd <= gw && gs > 0.0 && gs <= 1.0)
      assert(math.abs(gs - math.rint(dau.toDouble / wau * 1e6) / 1e6)
               < 1e-12)
    }
    assert(days.length > 7, "degenerate: need more than one window span")
    spark.catalog.clearCache()
  }

  test("anomalyFlags: a planted spike flags against its trailing " +
       "baseline; the spike is excluded from its own base; early hours " +
       "have null z") {
    // type 'a': 20 calm hours of 10 events, then one hour of 200
    val calm = (0 until 20).flatMap { h =>
      (0 until 10).map(i => ("a", f"2024-01-01 $h%02d:${i % 60}%02d:00"))
    }
    val spike = (0 until 200).map(i =>
      ("a", f"2024-01-01 20:${i % 60}%02d:${i / 60}%02d"))
    val events = (calm ++ spike).zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("event_id", "event_type", "ts")
    val got = graft.ops.TimeSeries
      .anomalyFlags(events, windowDays = 7, zThreshold = 3.0)
      .as[(String, Long, Long, Long, Option[Double], Option[Boolean])]
      .collect().sortBy(_._2)
    assert(got.length === 21)
    // hour 0: no baseline → null z, null flag
    assert(got.head._5.isEmpty && got.head._6.isEmpty)
    // hour 1: one baseline point → stddev undefined → null z
    assert(got(1)._5.isEmpty)
    // calm hours 2..19: identical counts → sd = 0 → null z (guarded)
    (2 until 20).foreach(i => assert(got(i)._5.isEmpty))
    // the spike hour: baseline is the 20 calm hours (mean 10, sd 0)…
    // sd of identical values is 0 → guarded null would hide it, so use
    // a slightly varied calm baseline instead for the z assertion
    val varied = (0 until 20).flatMap { h =>
      (0 until (if (h % 2 == 0) 9 else 11)).map(i =>
        ("a", f"2024-01-01 $h%02d:${i % 60}%02d:00"))
    }
    val ev2 = (varied ++ spike).zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("event_id", "event_type", "ts")
    val got2 = graft.ops.TimeSeries
      .anomalyFlags(ev2, windowDays = 7, zThreshold = 3.0)
      .as[(String, Long, Long, Long, Option[Double], Option[Boolean])]
      .collect().sortBy(_._2)
    val sp = got2.last
    assert(sp._3 === 200L && sp._4 === 20L)
    assert(sp._5.exists(_ > 100.0), s"spike z should be huge, got $sp")
    assert(sp._6.contains(true))
    // calm varied hours do not flag
    assert(got2.dropRight(1).forall(!_._6.contains(true)))
  }

  test("transitions: per-from probabilities sum to 1; a hand journey " +
       "produces its exact pair counts; journeys never cross users") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: a→b→a ; u2: a→b ; u3: single event (no transition);
    // the u1-end→u2-start boundary must NOT create a pair
    val ev = Seq((1L, 1L, "a", ts(1)), (2L, 1L, "b", ts(2)),
                 (3L, 1L, "a", ts(3)), (4L, 2L, "a", ts(4)),
                 (5L, 2L, "b", ts(5)), (6L, 3L, "c", ts(6)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.ops.TimeSeries.transitions(ev)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
    // on the real table: probabilities sum to 1 per from_type
    val real = graft.ops.TimeSeries
      .transitions(Tables.load(spark, sfDir, "events"))
      .as[(String, String, Long, Double)].collect()
    real.groupBy(_._1).values.foreach { rows =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    }
    assert(real.nonEmpty)
    spark.catalog.clearCache()
  }

  test("cohortRetention: staggered cohorts produce the exact triangle; " +
       "retention(offset 0) is always 1.0") {
    // weeks (Mondays): W0 = 2024-01-01, W1 = 2024-01-08, W2 = 2024-01-15
    // u1: W0, W1, W2 ; u2: W0, W2 ; u3: W1
    val ev = Seq((1L, "2024-01-02 10:00:00"), (1L, "2024-01-09 10:00:00"),
                 (1L, "2024-01-16 10:00:00"), (2L, "2024-01-03 10:00:00"),
                 (2L, "2024-01-17 10:00:00"), (3L, "2024-01-10 10:00:00"))
      .zipWithIndex.map { case ((u, s), i) =>
        (i.toLong, u, java.sql.Timestamp.valueOf(s)) }
      .toDF("event_id", "user_id", "ts")
    val got = graft.ops.TimeSeries.cohortRetention(ev)
      .as[(String, Int, Long, Long, Double)].collect().toSet
    assert(got === Set(
      ("2024-01-01", 0, 2L, 2L, 1.0),   // u1+u2 start in W0
      ("2024-01-01", 1, 1L, 2L, 0.5),   // only u1 back in W1
      ("2024-01-01", 2, 2L, 2L, 1.0),   // both back in W2
      ("2024-01-08", 0, 1L, 1L, 1.0)))  // u3's lone cohort
    // invariant on the real table: offset 0 retains everyone
    val real = graft.ops.TimeSeries
      .cohortRetention(Tables.load(spark, sfDir, "events"))
      .as[(String, Int, Long, Long, Double)].collect()
    assert(real.filter(_._2 == 0).forall(r => r._3 === r._4 && r._5 === 1.0))
    assert(real.nonEmpty)
    spark.catalog.clearCache()
  }

  test("trendLines recovers a planted linear hourly ramp exactly " +
       "(slope 2/h, intercept 3, r2 = 1); a flat series has slope 0") {
    // type 'up': hour h carries 3 + 2h events; type 'flat': always 4
    val up = (0 until 10).flatMap { h =>
      (0 until (3 + 2 * h)).map(i =>
        ("up", f"2024-01-01 $h%02d:${i % 60}%02d:00"))
    }
    val flat = (0 until 10).flatMap { h =>
      (0 until 4).map(i => ("flat", f"2024-01-01 $h%02d:${i % 60}%02d:00"))
    }
    val ev = (up ++ flat).zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("event_id", "event_type", "ts")
    val got = graft.ops.TimeSeries.trendLines(ev)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, nUp, sUp, iUp, r2Up) = got("up")
    assert(nUp === 10L && sUp === 2.0 && iUp === 3.0 && r2Up === 1.0)
    val (_, nF, sF, iF, _) = got("flat")
    assert(nF === 10L && sF === 0.0 && iF === 4.0)
  }

  test("gapFill makes a total outage visible: an empty hour amid steady " +
       "traffic flags with a large negative z; unfilled series can't " +
       "see it") {
    // steady ~10/hour for hours 0..20 except hour 15 which has ZERO
    val ev = (0 until 21).filter(_ != 15).flatMap { h =>
      (0 until (if (h % 2 == 0) 9 else 11)).map(i =>
        ("a", f"2024-01-01 $h%02d:${i % 60}%02d:00"))
    }.zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("event_id", "event_type", "ts")
    val unfilled = graft.ops.TimeSeries
      .anomalyFlags(ev, windowDays = 7, zThreshold = 3.0)
      .as[(String, Long, Long, Long, Option[Double], Option[Boolean])]
      .collect()
    assert(unfilled.length === 20, "the empty hour has no unfilled row")
    val filled = graft.ops.TimeSeries
      .anomalyFlags(ev, windowDays = 7, zThreshold = 3.0, gapFill = true)
      .as[(String, Long, Long, Long, Option[Double], Option[Boolean])]
      .collect().sortBy(_._2)
    assert(filled.length === 21, "gapFill completes the span")
    val outage = filled(15)
    assert(outage._3 === 0L, "the outage hour exists with n = 0")
    assert(outage._5.exists(_ < -3.0), s"outage must flag, got $outage")
    assert(outage._6.contains(true))
  }

  test("userChurn: new/retained/churned resolve per day; " +
       "n_new + n_retained equals that day's DAU") {
    def d(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // day1: u1, u2 ; day2: u1 (retained), u3 (new); u2 churns on day2
    val ev = Seq((1L, 1L, d(1, 9)), (2L, 2L, d(1, 10)),
                 (3L, 1L, d(2, 9)), (4L, 3L, d(2, 11)))
      .toDF("event_id", "user_id", "ts")
    val got = graft.ops.TimeSeries.userChurn(ev)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got === Map("2024-01-01" -> ((2L, 0L, 0L)),
                       "2024-01-02" -> ((1L, 1L, 1L))))
    // invariant on the real table: new + retained = DAU per day
    val events = Tables.load(spark, sfDir, "events")
    val churn = graft.ops.TimeSeries.userChurn(events)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2 + r._3)).toMap
    val dau = graft.ops.TimeSeries.activeUsers(events, days = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(churn === dau)
    spark.catalog.clearCache()
  }

  test("rollingAgg on a hand-built tie: equal timestamps share one frame") {
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = Seq((1L, 7L, t0, 10.0), (2L, 7L, t0, 30.0))
      .toDF("event_id", "user_id", "ts", "value")
    val got = TimeSeries
      .rollingAgg(ev, "event_id", "user_id", "ts", "value", hours = 1)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val ms = t0.getTime
    assert(got === Set((1L, 7L, ms, 2L, 20.0), (2L, 7L, ms, 2L, 20.0)))
  }
}
