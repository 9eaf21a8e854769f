package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.ops.SkewOps
import graft.streaming.StreamingOps

class SkewStreamSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin is row-identical to the plain join") {
    val fact = Tables.load(spark, sfDir, "customer")
      .withColumnRenamed("c_nationkey", "nk")
    val dim = Tables.load(spark, sfDir, "nation")
      .withColumnRenamed("n_nationkey", "nk")
    val plain = fact.join(dim, Seq("nk"), "inner")
      .groupBy($"n_name").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    val salted = SkewOps.saltedJoin(fact, dim, "nk", n = 8)
      .groupBy($"n_name").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(salted === plain)
  }

  test("saltedJoin spreads a hot key across salts") {
    // one hot key: all fact rows share key 1
    val fact = (1 to 1000).map(i => (1, s"row$i")).toDF("k", "payload")
    val dim = Seq((1, "dimval")).toDF("k", "dval")
    val out = SkewOps.saltedJoin(fact, dim, "k", n = 8)
    assert(out.count() === 1000)
    // distribution check: the salt derivation touches most buckets
    val salts = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(8)).cast("int"))
      .select($"__salt").distinct().count()
    assert(salts >= 6)
  }

  test("saltedJoin with rowIdCol spreads EXACT-duplicate hot rows and " +
       "stays row-identical") {
    // 1000 byte-identical rows of one hot key: the content-hash fallback
    // necessarily gives them all ONE salt; a caller-supplied unique id
    // spreads them while staying retry-deterministic (pure function of a
    // stored column)
    val fact = (1 to 1000).map(i => (i.toLong, 1, "same-payload"))
      .toDF("row_id", "k", "payload")
    val dim = Seq((1, "dimval")).toDF("k", "dval")
    val out = SkewOps.saltedJoin(fact, dim, "k", n = 8,
                                 rowIdCol = Some("row_id"))
    assert(out.count() === 1000)
    val spread = fact.withColumn("__salt",
      pmod(xxhash64($"row_id"), lit(8)).cast("int"))
      .select($"__salt").distinct().count()
    assert(spread >= 6)
  }

  test("streaming dedup within watermark drops duplicate keys") {
    val dir = s"${Sinks.scratchRoot}/dedup_stream"
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "a-dup"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), "b")
    ).toDF("event_id", "ts", "payload")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = StreamingOps.dedupStream(stream, Seq("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_test").select($"event_id")
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L))
    // batch fallback
    assert(StreamingOps.dedupStream(events, Seq("event_id")).count() === 2)
  }
}
