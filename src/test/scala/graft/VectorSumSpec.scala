package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorAggregates

/** vector_sum: native elementwise array-sum aggregate. Pinned against the
  * posexplode formulation it replaces (the HOF-style twin), plus the SQL
  * registration path and its null/error contract.
  */
class VectorSumSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .withColumn("g", (col("vec_id") % 3).cast("int"))

  test("equals the posexplode+avg twin per group (float input)") {
    val viaAgg = emb.groupBy($"g")
      .agg(VectorAggregates.vectorSum($"embedding").as("vsum"),
           count(lit(1)).as("cnt"))
      .select($"g", transform($"vsum", x => x / $"cnt").as("mvec"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = emb.select($"g", posexplode($"embedding"))
      .groupBy($"g", $"pos")
      .agg(avg($"col".cast("double")).as("m"))
      .groupBy($"g")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
                     e => e.getField("m")).as("mvec"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(viaAgg.keySet === viaExplode.keySet)
    viaAgg.foreach { case (g, v) =>
      val w = viaExplode(g)
      assert(v.length === w.length)
      v.zip(w).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"group $g: $a vs $b") }
    }
  }

  test("SQL registration: vector_sum usable from spark.sql") {
    Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("vs_emb")
    val viaSql = spark.sql(
      """SELECT CAST(vec_id % 3 AS INT) AS g, vector_sum(embedding) AS s
        |FROM vs_emb GROUP BY 1""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaApi = emb.groupBy($"g")
      .agg(VectorAggregates.vectorSum($"embedding").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(viaSql === viaApi)
  }

  test("null arrays are skipped like SUM; all-null group is null") {
    val df = Seq(
      (0, Some(Seq(1.0, 2.0))), (0, None), (0, Some(Seq(3.0, 4.0))),
      (1, None)).toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(VectorAggregates.vectorSum($"v").as("s"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(got(0).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq) ===
      Some(Seq(4.0, 6.0)))
    assert(got(1) === None)
  }

  test("all-empty-array group sums to an empty array, not null") {
    val row = Seq((0, Seq.empty[Double]), (0, Seq.empty[Double]))
      .toDF("g", "v")
      .groupBy($"g").agg(VectorAggregates.vectorSum($"v").as("s"))
      .head()
    assert(row.get(1) != null, "non-null inputs must give a non-null sum")
    assert(row.getSeq[Double](1).isEmpty)
  }

  test("empty-vs-nonempty mismatch fails regardless of row order") {
    for (rows <- Seq(
      Seq((0, Seq.empty[Double]), (0, Seq(1.0, 2.0))),
      Seq((0, Seq(1.0, 2.0)), (0, Seq.empty[Double])))) {
      val e = intercept[Exception] {
        rows.toDF("g", "v").coalesce(1)
          .groupBy($"g").agg(VectorAggregates.vectorSum($"v")).collect()
      }
      assert(e.getMessage.contains("vector_sum") ||
        Option(e.getCause).exists(_.getMessage.contains("vector_sum")))
    }
  }

  test("mismatched vector lengths in one group fail loudly") {
    val df = Seq((0, Seq(1.0, 2.0)), (0, Seq(1.0))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy($"g").agg(VectorAggregates.vectorSum($"v")).collect()
    }
    assert(e.getMessage.contains("vector_sum") ||
      Option(e.getCause).exists(_.getMessage.contains("vector_sum")))
  }
}
