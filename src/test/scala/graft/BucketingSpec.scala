package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks

/** Bucketed co-located join: write both join sides bucketed by the join
  * key, and the join needs NO shuffle exchange — the write-time layout
  * that turns a 100 TB fact⋈fact join from all-to-all into map-side work.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = s"${Sinks.scratchRoot}/bucketed"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.load(spark, sfDir, "lineitem")
      .write.mode("overwrite")
      .option("path", s"$warehouse/li_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    Tables.load(spark, sfDir, "orders")
      .write.mode("overwrite")
      .option("path", s"$warehouse/ord_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_b")

    // At fixture scale the planner would broadcast (which also bypasses
    // buckets); force the SMJ path the layout is designed for.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"),
              col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"buckets unused:\n$plan")

      // and it is correct
      val expected = Tables.load(spark, sfDir, "lineitem")
        .join(Tables.load(spark, sfDir, "orders"),
              col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
