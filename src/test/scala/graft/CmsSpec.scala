package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.CmsExpressions
import graft.io.Sinks

class CmsSpec extends SparkSpec {
  import spark.implicits._

  test("cms never undercounts, and is exact when collision-free") {
    // skewed stream: key i appears i+1 times
    val keys = (0L until 200L).flatMap(i =>
      Seq.fill(i.toInt + 1)(i * 0x9e3779b97f4a7c15L))
    val df = keys.toDF("h").repartition(7) // exercise partial merges
    val sketch = df.agg(
      CmsExpressions.cmsAgg($"h", depth = 4, width = 1 << 14).as("s"))
    val est = (0L until 200L).map(_ * 0x9e3779b97f4a7c15L).toDF("h")
      .crossJoin(sketch)
      .select($"h", CmsExpressions.cmsEstimate($"s", $"h", 4, 1 << 14)
        .as("est"))
      .as[(Long, Long)].collect().toMap
    (0L until 200L).foreach { i =>
      val truth = i + 1
      val e = est(i * 0x9e3779b97f4a7c15L)
      assert(e >= truth, s"undercount at $i: $e < $truth")
    }
    // 200 distinct keys in 2^14 counters x4 rows: collisions are
    // overwhelmingly unlikely to survive the min, so estimates are exact
    assert((0L until 200L).count { i =>
      est(i * 0x9e3779b97f4a7c15L) == i + 1 } >= 198)
  }

  test("SQL registration matches the Column API") {
    val df = (0L until 300L).map(i => i % 50L).toDF("h")
    df.createOrReplaceTempView("cms_in")
    val viaSql = spark.sql(
      "SELECT cms_agg(h, 3, 1024) AS s FROM cms_in").as[Seq[Long]].head()
    val viaCol = df.agg(CmsExpressions.cmsAgg($"h", 3, 1024).as("s"))
      .as[Seq[Long]].head()
    assert(viaSql === viaCol)
    val est = spark.sql(
      """SELECT cms_estimate(s, CAST(7 AS BIGINT), 3, 1024) FROM
        |  (SELECT cms_agg(h, 3, 1024) AS s FROM cms_in)""".stripMargin)
      .as[Long].head()
    assert(est === 6L) // key 7 appears 6 times in 0..299 mod 50
  }

  test("heavyGrams equals the brute-force group count on crafted docs") {
    val boiler = "SUBSCRIBE-NOW-BANNER-TEXT"
    val docs = (0L until 40L).map { i =>
      val unique = s"document body $i " + ("x" * (i % 7).toInt) + s" tail $i"
      // boilerplate fragment in 3 of every 4 docs
      (i, if (i % 4 != 0) s"$unique $boiler" else unique)
    }.toDF("doc_id", "text")
    val got = DedupOps
      .heavyGrams(docs, "doc_id", "text", n = 12, minDf = 20L,
                  depth = 4, width = 1 << 16)
      .as[(String, Long)].collect().toMap
    val brute = docs
      .select(explode(DedupOps.shingles($"text", 12)).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" >= 20L)
      .as[(String, Long)].collect().toMap
    assert(got === brute)
    // the banner's own 12-grams (df=30) are among the heavies, alongside
    // the legitimately-common "document body" prefix shared by all docs
    assert(got.keys.exists(g => boiler.contains(g)))
    assert(boiler.sliding(12).forall(g => got.get(g).contains(30L)))
  }

  test("cms_agg is a valid streaming aggregate: complete-mode sketch " +
       "absorbs new files and never undercounts") {
    val dir = s"${Sinks.scratchRoot}/cms_stream"
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val batch1 = (0L until 50L).flatMap(i => Seq.fill(3)(i)).toDF("h")
    batch1.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
    val q = stream
      .agg(CmsExpressions.cmsAgg($"h", 4, 4096).as("s"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream_test").start()
    try {
      q.processAllAvailable()
      // second file lands mid-stream
      (0L until 50L).flatMap(i => Seq.fill(2)(i)).toDF("h")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val sketch = spark.table("cms_stream_test").as[Seq[Long]].head()
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sketch.toArray)
    (0L until 50L).foreach { i =>
      val est = graft.functions.Cms.estimate(ad, i, 4, 4096)
      assert(est >= 5L, s"stream undercount at $i: $est < 5")
    }
  }

  test("cms_estimate rejects a dims/sketch mismatch loudly") {
    // in-bounds but WRONG offsets would silently undercount and break
    // the superset guarantee — must throw instead
    val df = (0L until 10L).toDF("h")
    val sk = df.agg(CmsExpressions.cmsAgg($"h", 4, 2048).as("s"))
    val ex = intercept[Exception] {
      df.crossJoin(sk)
        .select(CmsExpressions.cmsEstimate($"s", $"h", 4, 1024))
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("cms_estimate")))
  }

  test("a nullable sketch array is rejected at analysis") {
    // Cms.estimate reads sketch.getLong unchecked — a null slot would
    // silently read garbage, so the analyzer must refuse nullable arrays
    val df = Seq((Seq(Option(1L), None), 7L)).toDF("s", "h")
    val ex = intercept[Exception] {
      df.select(CmsExpressions.cmsEstimate($"s", $"h", 1, 16)).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("without nulls"))
  }

  test("tiny width still yields the exact answer (pruning only)") {
    // width 16: massive collisions -> candidate superset balloons, but
    // the exact verify keeps the RESULT identical
    val docs = (0L until 30L)
      .map(i => (i, if (i % 2 == 0) s"shared-fragment-$i common!!chunk"
                    else s"totally unique body number $i"))
      .toDF("doc_id", "text")
    val precise = DedupOps.heavyGrams(docs, "doc_id", "text", n = 12,
                                      minDf = 10L, depth = 4,
                                      width = 1 << 16)
      .as[(String, Long)].collect().toSet
    val tiny = DedupOps.heavyGrams(docs, "doc_id", "text", n = 12,
                                   minDf = 10L, depth = 2, width = 16)
      .as[(String, Long)].collect().toSet
    assert(tiny === precise)
  }
}
