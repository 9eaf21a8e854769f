package graft

import org.apache.spark.sql.functions._

import graft.functions.KmvExpressions._
import graft.ops.SketchOps

class KmvSpec extends SparkSpec {
  import spark.implicits._

  private val K = 512

  private def sketchOf(ids: Seq[Long], k: Int = K): Array[Long] =
    ids.toDF("id").agg(kmvAgg(xxhash64(col("id")), k))
      .head().getAs[Seq[Long]](0).toArray

  test("below saturation: count, intersect, and jaccard are EXACT") {
    val a = sketchOf(1L to 100L)
    val b = sketchOf(51L to 150L)
    val df = Seq((a, b)).toDF("a", "b").select(
      kmvCount(col("a"), K).as("ca"),
      kmvCount(col("b"), K).as("cb"),
      kmvIntersect(col("a"), col("b"), K).as("inter"),
      kmvJaccard(col("a"), col("b"), K).as("jac"))
    val r = df.head()
    assert(r.getAs[Long]("ca") === 100L)
    assert(r.getAs[Long]("cb") === 100L)
    assert(r.getAs[Long]("inter") === 50L)
    assert(r.getAs[Double]("jac") === 50.0 / 150.0)
  }

  test("above saturation: count within the 1/sqrt(k) envelope") {
    val n = 50000
    val est = spark.range(n)
      .agg(kmvCount(kmvAgg(xxhash64(col("id")), 1024), 1024))
      .head().getLong(0)
    // 3 sigma at k=1024 is ~9.4%
    assert(math.abs(est - n).toDouble / n < 0.1, s"estimated $est")
  }

  test("above saturation: jaccard tracks the true overlap") {
    // [0, 20000) vs [10000, 30000): true J = 10000/30000 = 1/3
    val a = sketchOf(0L until 20000L, 1024)
    val b = sketchOf(10000L until 30000L, 1024)
    val j = Seq((a, b)).toDF("a", "b")
      .select(kmvJaccard(col("a"), col("b"), 1024)).head().getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 0.08, s"jaccard $j")
    val inter = Seq((a, b)).toDF("a", "b")
      .select(kmvIntersect(col("a"), col("b"), 1024)).head().getLong(0)
    assert(math.abs(inter - 10000).toDouble / 10000 < 0.15,
           s"intersection $inter")
  }

  test("incremental merge == one-shot, bit-for-bit; order-independent") {
    val oneShot: Seq[Long] = sketchOf(0L until 5000L, 256).toSeq
    val parts = Seq(sketchOf(0L until 2000L, 256),
                    sketchOf(2000L until 3500L, 256),
                    sketchOf(3500L until 5000L, 256))
    def mergeOf(xs: Seq[Array[Long]]): Seq[Long] =
      xs.map(Tuple1(_)).toDF("s")
        .agg(kmvMerge(col("s"), 256)).head()
        .getAs[scala.collection.Seq[Long]](0).toSeq
    assert(mergeOf(parts) === oneShot)
    assert(mergeOf(parts.reverse) === oneShot)
    // overlapping parts change nothing: it's a set union
    assert(mergeOf(parts :+ sketchOf(1000L until 4000L, 256)) === oneShot)
  }

  test("saturation boundary n == k: estimator path, sane answer") {
    val est = spark.range(K)
      .agg(kmvCount(kmvAgg(xxhash64(col("id")), K), K)).head().getLong(0)
    assert(math.abs(est - K).toDouble / K < 0.15, s"estimated $est at n=k")
  }

  test("null hashes contribute nothing; empty input is an empty sketch") {
    val est = Seq(Some(1L), None, Some(2L), None).toDF("id")
      .agg(kmvCount(kmvAgg(
        when(col("id").isNotNull, xxhash64(col("id"))), K), K))
      .head().getLong(0)
    assert(est === 2L)
    val empty = spark.range(0)
      .agg(kmvCount(kmvAgg(xxhash64(col("id")), K), K)).head().getLong(0)
    assert(empty === 0L)
  }

  test("retentionReport: exact against the brute-force day join") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val got = SketchOps.retentionReport(
      SketchOps.dailyKmvSketches(ev), K).collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("next_dau"),
         r.getAs[Long]("returned"))).toMap
    val d = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = d.groupBy("day").count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val dd = d.select(col("day"), col("user_id"))
    val returned = dd.as("a")
      .join(dd.as("b"),
            col("b.day") === date_add(col("a.day"), 1) &&
              col("b.user_id") === col("a.user_id"))
      .groupBy(col("a.day")).count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    got.foreach { case (day, (dau, nextDau, ret)) =>
      val next = java.time.LocalDate.parse(day).plusDays(1).toString
      assert(dau === days(day), s"dau $day")
      assert(nextDau === days(next), s"next_dau $day")
      assert(ret === returned.getOrElse(day, 0L), s"returned $day")
    }
  }

  test("overlapMatrix: canonical pairs, jaccard in [0,1]") {
    val sketches = Seq(("a", sketchOf(1L to 50L)),
                       ("b", sketchOf(26L to 75L)),
                       ("c", sketchOf(1000L to 1050L)))
      .toDF("cohort", "sketch")
    val rows = SketchOps.overlapMatrix(sketches, "cohort", K).collect()
    assert(rows.length === 3) // ab, ac, bc — each unordered pair once
    val ab = rows.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getAs[Long]("overlap") === 25L)
    // the op rounds to 6 decimals (the oracle-portability convention)
    assert(ab.getAs[Double]("jaccard") === 0.333333)
    val ac = rows.find(r => r.getString(0) == "a" && r.getString(1) == "c").get
    assert(ac.getAs[Long]("overlap") === 0L)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("a parquet-persisted sketch table still serves kmv_count/" +
       "kmv_jaccard (containsNull=true round-trip accepted)") {
    import spark.implicits._
    val path = graft.io.Sinks.scratchRoot + "/kmv_persist_spec"
    graft.io.Sinks.dropTable(spark, path)
    spark.range(500)
      .select((col("id") % 5).as("g"), xxhash64(col("id")).as("h"))
      .groupBy("g")
      .agg(expr(s"kmv_agg(h, $K)").as("sketch"))
      .write.parquet(path)
    // parquet round-trips array<bigint> as containsNull=true — the
    // analysis-time check must accept it (null SLOTS still reject at
    // runtime, the DdExpressions discipline)
    val back = spark.read.parquet(path)
    assert(back.schema("sketch").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val counts = back.select(expr(s"kmv_count(sketch, $K)"))
      .as[Long].collect()
    assert(counts.length === 5 && counts.forall(c => c === 100L),
           s"exact regime per group: ${counts.toSeq}")
    spark.catalog.clearCache()
  }

  test("SQL surface: kmv_* registered and composable") {
    spark.range(3000).createOrReplaceTempView("kmv_in")
    val est = spark.sql(
      s"SELECT kmv_count(kmv_agg(xxhash64(id), 1024), 1024) FROM kmv_in")
      .head().getLong(0)
    assert(math.abs(est - 3000).toDouble / 3000 < 0.1)
    val j = spark.sql(
      s"""SELECT kmv_jaccard(a, b, $K) FROM
         |  (SELECT kmv_agg(xxhash64(id), $K) AS a FROM kmv_in WHERE id < 100),
         |  (SELECT kmv_agg(xxhash64(id), $K) AS b FROM kmv_in WHERE id < 100)
         |""".stripMargin).head().getDouble(0)
    assert(j === 1.0) // identical small sets: exact regime
  }
}
