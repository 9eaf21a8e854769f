package graft

import org.apache.spark.sql.functions._

import graft.functions.Dd
import graft.functions.DdExpressions.{ddAgg, ddMerge, ddQuantile}
import graft.io.Sinks

/** DDSketch (Masson, Rim & Lee VLDB'19) contracts: the ≤ alpha
  * relative-error guarantee, the EXACT-merge property (count addition —
  * incremental ≡ one-shot bit-for-bit, stronger than t-digest/GK), the
  * zero/negative/null/NaN edge rules, and the SQL-registry parity.
  */
class DdSpec extends SparkSpec {
  import spark.implicits._

  private val alpha = 0.01

  // deterministic pseudo-random positives spanning 4 decades
  private val values: Seq[Double] =
    (1 to 2000).map(i => math.abs(math.sin(i.toDouble)) * 1000.0 + 0.001)

  test("quantile estimates sit within the alpha relative-error bound") {
    val sk = values.toDF("v").agg(ddAgg($"v", alpha).as("s"))
    for (q <- Seq(0.05, 0.25, 0.5, 0.75, 0.95, 0.99)) {
      val est = sk.select(ddQuantile($"s", q, alpha)).as[Double].head()
      // exact lower quantile with the same ceil(q*n) rank rule
      val exact = values.sorted.apply(
        math.max(1, math.ceil(q * values.size).toInt) - 1)
      assert(math.abs(est - exact) / exact <= alpha + 1e-12,
        s"q=$q: est $est vs exact $exact breaks the $alpha bound")
    }
  }

  test("merge of arbitrary splits equals the one-shot sketch bit-for-bit") {
    val whole = values.toDF("v").agg(ddAgg($"v", alpha).as("s"))
      .select($"s").as[Seq[Long]].head()
    // three deliberately unequal parts
    val parts = Seq(values.take(17), values.slice(17, 900),
                    values.drop(900))
    val merged = parts.zipWithIndex
      .map { case (p, i) => p.map((_, i)) }
      .reduce(_ ++ _).toDF("v", "part")
      .groupBy($"part").agg(ddAgg($"v", alpha).as("s"))
      .agg(ddMerge($"s").as("m"))
      .select($"m").as[Seq[Long]].head()
    assert(merged === whole)
  }

  test("zero/negative land in the zero bucket; null and NaN are skipped") {
    val sk = Seq(Some(-3.0), Some(0.0), Some(5.0), None,
                 Some(Double.NaN))
      .toDF("v").agg(ddAgg($"v", alpha).as("s"))
    val pairs = sk.select($"s").as[Seq[Long]].head()
    // two buckets: the zero bucket (count 2) and 5.0's bucket (count 1)
    assert(pairs.length === 4)
    assert(pairs(0) === Dd.ZeroIdx.toLong && pairs(1) === 2L)
    assert(pairs(3) === 1L)
    // low quantiles report 0.0 (the zero bucket), high ones ~5.0
    val p25 = sk.select(ddQuantile($"s", 0.25, alpha)).as[Double].head()
    val p99 = sk.select(ddQuantile($"s", 0.99, alpha)).as[Double].head()
    assert(p25 === 0.0)
    assert(math.abs(p99 - 5.0) / 5.0 <= alpha)
  }

  test("empty sketch yields a null quantile") {
    val sk = Seq.empty[Double].toDF("v").agg(ddAgg($"v", alpha).as("s"))
    val q = sk.select(ddQuantile($"s", 0.5, alpha).as("q"))
      .select($"q".isNull).as[Boolean].head()
    assert(q)
  }

  test("quantileTimeline: the window merge equals sketching the window") {
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(s"2024-01-$d 12:00:00")
    // one type, 10 days, values = day index repeated day-index times —
    // so every trailing window has a DIFFERENT distribution
    val rows = for (d <- 1 to 10; _ <- 1 to d)
      yield (ts(f"$d%02d"), "t", d * 10.0)
    val ev = rows.toDF("ts", "event_type", "value")
    val tl = graft.ops.SketchOps.quantileTimeline(
      graft.ops.SketchOps.dailyValueSketches(ev), windowDays = 7)
      .select($"day".cast("string"), $"p95_7d")
      .as[(String, Double)].collect().toMap
    for (d <- Seq(3, 7, 10)) {
      val lo = math.max(1, d - 6)
      val winVals = for (x <- lo to d; _ <- 1 to x) yield x * 10.0
      val direct = winVals.toDF("v")
        .agg(ddAgg($"v", alpha).as("s"))
        .select(round(ddQuantile($"s", 0.95, alpha), 6))
        .as[Double].head()
      assert(tl(f"2024-01-$d%02d") === direct,
        s"day $d trailing merge diverged from the direct window sketch")
    }
  }

  test("appendDailyValueSketches: visible ledger name; a table with the " +
       "old `_applied` ledger still dedups and migrates in its next swap") {
    import java.sql.Timestamp
    import org.apache.hadoop.fs.Path
    import graft.ops.SketchOps
    val root = s"${Sinks.scratchRoot}/spec_dd_ledger"
    Sinks.dropTable(spark, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ev(d: Int) = (1 to 5).map(i =>
      (Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), "t", i * 1.0))
      .toDF("ts", "event_type", "value")
    def quantiles(): Seq[(String, Double)] =
      SketchOps.quantileReport(Tables.read(spark, s"$root/data"))
        .select($"event_type", $"p95").as[(String, Double)].collect().toSeq
    SketchOps.appendDailyValueSketches(spark, root, ev(1), "b1")
    assert(fs.exists(new Path(s"$root/applied")))
    assert(!fs.exists(new Path(s"$root/_applied")))
    // the layout earlier versions wrote: the same ledger, hidden name
    fs.rename(new Path(s"$root/applied"), new Path(s"$root/_applied"))
    val once = quantiles()
    SketchOps.appendDailyValueSketches(spark, root, ev(1), "b1")
    assert(quantiles() === once, "re-delivery against the old ledger")
    assert(fs.exists(new Path(s"$root/_applied")))
    SketchOps.appendDailyValueSketches(spark, root, ev(2), "b2")
    assert(fs.exists(new Path(s"$root/applied")))
    assert(!fs.exists(new Path(s"$root/_applied")))
    assert(Tables.read(spark, s"$root/applied").as[String].collect().toSet
      === Set("b1", "b2"))
    Sinks.dropTable(spark, root)
  }

  test("streaming sketch build: windowed dd_agg on a stream = batch") {
    import java.sql.Timestamp
    val dir = s"${Sinks.scratchRoot}/dd_stream"
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "a", 5.0),
      (Timestamp.valueOf("2024-01-01 10:40:00"), "a", 50.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), "a", 7.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "b", 3.0))
    rows.toDF("ts", "k", "v").write.mode("overwrite").parquet(dir)
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window($"ts", "1 hour"), $"k")
        .agg(ddAgg($"v", alpha).as("sketch"))
    val stream = spark.readStream
      .schema("ts timestamp, k string, v double").parquet(dir)
    val q = aggOf(stream.withWatermark("ts", "1 hour"))
      .writeStream.outputMode("update")
      .format("memory").queryName("dd_stream_test").start()
    try q.processAllAvailable() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"window.start".cast("string"), $"k", $"sketch")
        .as[(String, String, Seq[Long])].collect().toSet
    assert(canon(spark.table("dd_stream_test")) ===
      canon(aggOf(rows.toDF("ts", "k", "v"))))
  }

  test("SQL registry parity: dd_agg/dd_merge/dd_quantile = Column API") {
    values.toDF("v").createOrReplaceTempView("dd_vals")
    val sql = spark.sql(
      """SELECT dd_quantile(dd_merge(s), 0.95, 0.01) FROM (
        |  SELECT dd_agg(v, 0.01) AS s FROM dd_vals GROUP BY v > 100.0)"""
        .stripMargin).as[Double].head()
    val api = values.map(v => (v, v > 100.0)).toDF("v", "g")
      .groupBy($"g").agg(ddAgg($"v", alpha).as("s"))
      .agg(ddQuantile(ddMerge($"s"), 0.95, alpha)).as[Double].head()
    assert(sql === api)
  }
}
