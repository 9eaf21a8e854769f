package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.io.Sinks
import graft.model.TypedTables
import graft.ops.{CoreOps, TopK}

class TypedAndPropertySpec extends SparkSpec {
  import spark.implicits._

  private def holds(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("typed veneer: Dataset[Event]/[Document]/[Embedding] round-trip") {
    val ev = TypedTables.events(spark, sfDir)
    assert(ev.head().event_type.nonEmpty)
    assert(TypedTables.documents(spark, sfDir).head().text.nonEmpty)
    assert(TypedTables.embeddings(spark, sfDir).head().embedding.length === 64)
    // typed aggregation compiles & runs
    val perType = ev.groupByKey(_.event_type).count().collect().toMap
    assert(perType.values.sum === ev.count())
  }

  test("topK aggregator equals window top-k (scalable top-k path)") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc)
    val viaWindow = li.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"l_returnflag", $"l_orderkey")
      .as[(String, Long)].collect().toSet

    val agg = TopK.topKPairs(5)
    val viaAgg = li.select($"l_returnflag", $"l_extendedprice", $"l_orderkey")
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("top"))
      .flatMap { case (rf, top) => top.map(t => (rf, t._2)) }
      .collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("topK+count aggregator: top-k equals the window's, count equals " +
       "groupBy's, across merges (the eval-accounting buffer)") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey")
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".asc, $"l_orderkey".asc)
    val viaWindow = li.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4)
      .select($"l_returnflag", $"l_orderkey")
      .as[(String, Long)].collect().toSet
    val counts = li.groupBy($"l_returnflag").count()
      .as[(String, Long)].collect().toMap
    // ASC variant (distance-rank semantics), repartitioned so the
    // merge path (multiple partial buffers per group) genuinely runs
    val got = li.repartition(32)
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(TopK.topKPairsAscWithCount(4).toColumn.name("tc"))
      .collect()
    assert(got.map { case (rf, (cnt, _)) => rf -> cnt }.toMap === counts)
    val gotTop = got.flatMap { case (rf, (_, top)) =>
      top.map(t => (rf, t._2)) }.toSet
    assert(gotTop === viaWindow)
    // buffer stays bounded at k and sorted ascending by (score, id)
    got.foreach { case (rf, (_, top)) =>
      assert(top.length <= 4)
      assert(top === top.sortBy(t => (t._1, t._2)), s"unsorted: $rf")
    }
    // DESC variant mirrors the similarity-rank window
    val wD = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc)
    val viaWindowD = li.withColumn("rn", row_number().over(wD))
      .filter($"rn" <= 3)
      .select($"l_returnflag", $"l_orderkey")
      .as[(String, Long)].collect().toSet
    val gotD = li.repartition(32)
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(TopK.topKPairsDescWithCount(3).toColumn.name("tc"))
      .flatMap { case (rf, (_, top)) => top.map(t => (rf, t._2)) }
      .collect().toSet
    assert(gotD === viaWindowD)
  }

  test("CSV re-read coerces unparseable timestamps to null (S3 semantics)") {
    val path = s"${Sinks.scratchRoot}/test_csv_coerce"
    Seq(("1", "2024-01-01 10:00:00"), ("2", "not-a-timestamp"),
        ("3", "2024-02-29 23:59:59"))
      .toDF("id", "ts").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(StructField("id", LongType),
                                StructField("ts", TimestampType)))
    val back = Sinks.readCsv(spark, path, schema)
    assert(back.count() === 3)
    val nullTs = back.filter($"ts".isNull).select($"id").as[Long].collect()
    assert(nullTs.toSeq === Seq(2L))
  }

  test("property: dedup is idempotent and a no-op on distinct data") {
    val gen = Gen.listOfN(30, Gen.chooseNum(0, 5))
    holds(Prop.forAll(gen) { xs =>
      val df = xs.toDF("v")
      val once = CoreOps.dedupFullRow(df).collect().sorted(
        Ordering.by[org.apache.spark.sql.Row, Int](_.getInt(0)))
      val twice = CoreOps.dedupFullRow(CoreOps.dedupFullRow(df)).collect()
        .sorted(Ordering.by[org.apache.spark.sql.Row, Int](_.getInt(0)))
      once.toSeq == twice.toSeq &&
        once.map(_.getInt(0)).toSet == xs.toSet
    })
  }

  test("property: timeBucket is total over all hours") {
    holds(Prop.forAll(Gen.chooseNum(0, 23)) { h =>
      val df = Seq(java.sql.Timestamp.valueOf(f"2024-06-15 $h%02d:15:00"))
        .toDF("t")
      val b = CoreOps.timeBucket(df, "t").select("time_bucket")
        .as[String].head()
      val expected =
        if (h >= 7 && h <= 9) "Morning Rush"
        else if (h >= 17 && h <= 19) "Evening Rush"
        else "Other"
      b == expected
    })
  }

  test("property: rollingHash concat law h(a++b) = h(a)*31^|b| + h(b)") {
    import graft.functions.TextExpressions
    val asciiStr = Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString)
    holds(Prop.forAll(asciiStr, asciiStr) { (a, b) =>
      val got = Seq(a + b, a, b).toDF("t")
        .select(TextExpressions.rollingHash($"t")).as[Long].collect()
      val pow = b.getBytes("UTF-8").foldLeft(1L)((p, _) => p * 31L)
      got(0) == got(1) * pow + got(2)
    })
  }

  test("topKTriplesOpt: null scores rank below every real score and " +
       "survive the buffer (the window strategy's desc-nulls-last) — " +
       "the primitive form NPEs on the same input") {
    import graft.ops.TopK
    // group g: two real scores + two null-score rows; k=3 must return
    // the reals first, then ONE null row by (okey, ln) ascending
    val rows = Seq(
      ("g", Some(2.0), 10L, 1), ("g", None, 11L, 2),
      ("g", Some(5.0), 12L, 1), ("g", None, 9L, 1))
      .toDF("grp", "s", "okey", "ln")
      .as[(String, Option[Double], Long, Int)]
    val got = rows.groupByKey(_._1)
      .mapValues { case (_, s, okey, ln) => (s, okey, ln) }
      .agg(TopK.topKTriplesOpt(3).toColumn.name("top"))
      .collect().head._2
    assert(got === Seq((Some(5.0), 12L, 1), (Some(2.0), 10L, 1),
                       (None, 9L, 1)))
    // the primitive-Double triple cannot represent the null row at all
    intercept[Throwable] {
      Seq(("g", Some(2.0), 10L, 1), ("g", None, 11L, 2))
        .toDF("grp", "s", "okey", "ln")
        .as[(String, Double, Long, Int)].collect()
    }
    spark.catalog.clearCache()
  }

  test("property: shingle hash sets are sorted distinct, bounded by |text|") {
    import graft.functions.ShingleExpressions
    val txt = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
    holds(Prop.forAll(txt) { s =>
      val hs = Seq(s).toDF("t")
        .select(ShingleExpressions.shingleHashes($"t", 5)).as[Seq[Long]]
        .head()
      val sorted = hs == hs.sorted
      val distinct = hs.size == hs.distinct.size
      val bounded = hs.size <= math.max(1, s.length - 4)
      sorted && distinct && bounded
    })
  }
}
