package graft

import org.apache.spark.sql.functions._

import graft.functions.HllExpressions.{hllAgg, hllCount, hllMerge}
import graft.ops.SketchOps

class HllSpec extends SparkSpec {
  import spark.implicits._

  private val P = 12

  private def sketchOf(n: Int, from: Int = 0): Array[Byte] =
    spark.range(from, from + n)
      .agg(hllAgg(xxhash64(col("id")), P))
      .head().getAs[Array[Byte]](0)

  test("estimate within the 1.04/sqrt(m) error envelope at p=12") {
    // 3 sigma at p=12 is ~4.9%
    for (n <- Seq(100, 1000, 5000)) {
      val est = spark.range(n)
        .agg(hllCount(hllAgg(xxhash64(col("id")), P), P))
        .head().getLong(0)
      assert(math.abs(est - n).toDouble / n < 0.05,
             s"n=$n estimated as $est")
    }
  }

  test("incremental merge == one-shot, bit-for-bit") {
    val oneShot = sketchOf(3000)
    val parts = Seq((0, 1000), (1000, 1000), (2000, 1000)).map {
      case (from, n) => sketchOf(n, from)
    }
    val merged = parts.toDF("sketch")
      .agg(hllMerge(col("sketch"), P)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(oneShot, merged))
  }

  test("merge is order- and grouping-independent") {
    val parts = Seq(sketchOf(500), sketchOf(700, 250), sketchOf(300, 4000))
    def mergeOf(xs: Seq[Array[Byte]]): Array[Byte] =
      xs.toDF("sketch").agg(hllMerge(col("sketch"), P))
        .head().getAs[Array[Byte]](0)
    val a = mergeOf(parts)
    val b = mergeOf(parts.reverse)
    val c = mergeOf(Seq(mergeOf(parts.take(2)), parts(2)))
    assert(java.util.Arrays.equals(a, b))
    assert(java.util.Arrays.equals(a, c))
  }

  test("union of overlapping sets estimates the union, not the sum") {
    // [0,2000) and [1000,3000): union is 3000, sum would be 4000
    val merged = Seq(sketchOf(2000), sketchOf(2000, 1000)).toDF("sketch")
      .agg(hllCount(hllMerge(col("sketch"), P), P)).head().getLong(0)
    assert(math.abs(merged - 3000).toDouble / 3000 < 0.05,
           s"union estimated as $merged")
  }

  test("daily sketch table: timeline matches exact distinct within 5%") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val timeline = SketchOps.distinctTimeline(
      SketchOps.dailySketches(ev), P).collect()
    val exactDaily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exactTotal = ev.select(countDistinct(col("user_id")))
      .head().getLong(0)
    assert(timeline.nonEmpty)
    timeline.foreach { r =>
      val exact = exactDaily(r.getDate(0).toString)
      assert(math.abs(r.getLong(1) - exact).toDouble /
               math.max(exact, 1L) < 0.05,
             s"day ${r.getDate(0)}: est ${r.getLong(1)} vs exact $exact")
    }
    val last = timeline.maxBy(_.getDate(0).toString).getLong(2)
    assert(math.abs(last - exactTotal).toDouble / exactTotal < 0.05,
           s"to-date est $last vs exact $exactTotal")
  }

  test("to-date column equals unionEstimate of the full sketch table") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val sketches = SketchOps.dailySketches(ev)
    val last = SketchOps.distinctTimeline(sketches, P)
      .orderBy(col("day").desc).limit(1)
      .select(col("users_to_date")).head().getLong(0)
    val union = SketchOps.unionEstimate(sketches, P).head().getLong(0)
    assert(last === union)
  }

  test("null keys contribute nothing (no phantom distinct)") {
    val ev = Seq((Some(1L), "2024-01-01 10:00:00"),
                 (None, "2024-01-01 11:00:00"),
                 (None, "2024-01-01 12:00:00"),
                 (Some(2L), "2024-01-01 13:00:00"))
      .toDF("user_id", "ts_s")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val est = SketchOps.unionEstimate(
      SketchOps.dailySketches(ev), P).head().getLong(0)
    assert(est === 2L)
  }

  test("precision mismatch fails loudly, never a wrong estimate") {
    val sk = sketchOf(100)
    val err = intercept[Exception] {
      Seq(sk).toDF("sketch").select(hllCount(col("sketch"), P - 2))
        .head()
    }
    assert(err.getMessage.contains("registers") ||
           err.getCause.getMessage.contains("registers"))
  }

  test("SQL surface: hll_agg / hll_merge / hll_count registered") {
    spark.range(2500).createOrReplaceTempView("hll_in")
    val est = spark.sql(
      s"SELECT hll_count(hll_agg(xxhash64(id), $P), $P) FROM hll_in")
      .head().getLong(0)
    assert(math.abs(est - 2500).toDouble / 2500 < 0.05)
    spark.sql(
      s"""SELECT hll_count(hll_merge(s, $P), $P) FROM (
         |  SELECT hll_agg(xxhash64(id), $P) AS s FROM hll_in
         |  GROUP BY id % 4)""".stripMargin)
      .head().getLong(0)
  }

  test("empty input estimates zero") {
    val est = spark.range(0)
      .agg(hllCount(hllAgg(xxhash64(col("id")), P), P)).head().getLong(0)
    assert(est === 0L)
  }

  private def sketchTableOf(path: String): Map[String, Seq[Byte]] =
    spark.read.parquet(path).collect()
      .map(r => r.getDate(0).toString ->
        r.getAs[Array[Byte]]("sketch").toSeq).toMap

  test("appendDailySketches: incremental == one-shot, bit-for-bit; re-delivery is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("sk").toString
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val early = ev.filter(dayofmonth(col("ts")) <= 15)
    val late = ev.filter(dayofmonth(col("ts")) > 15)

    val inc = s"$base/inc"
    SketchOps.appendDailySketches(spark, inc, early)
    SketchOps.appendDailySketches(spark, inc, late)
    val incremental = sketchTableOf(inc)

    val oneShot = SketchOps.dailySketches(ev).collect()
      .map(r => r.getDate(0).toString ->
        r.getAs[Array[Byte]]("sketch").toSeq).toMap
    assert(incremental === oneShot)

    // at-least-once: the same batch again changes nothing
    SketchOps.appendDailySketches(spark, inc, late)
    assert(sketchTableOf(inc) === oneShot)
  }

  test("appendDailySketches: late arrivals extend their day by union") {
    val base = java.nio.file.Files.createTempDirectory("sk").toString
    val path = s"$base/t"
    def ev(users: Seq[Long]) = users
      .map(u => (u, "2024-01-01 10:00:00"))
      .toDF("user_id", "ts_s")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    SketchOps.appendDailySketches(spark, path, ev(Seq(1L, 2L, 3L)))
    SketchOps.appendDailySketches(spark, path, ev(Seq(3L, 4L)))
    val est = SketchOps.unionEstimate(spark.read.parquet(path), P)
      .head().getLong(0)
    assert(est === 4L) // {1,2,3} ∪ {3,4}
  }
}
