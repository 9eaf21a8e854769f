package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Central loader for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under the scale-factor dir passed by the
  * driver to every `SparkEntry.queries` entry.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS) (FIXTURES.md §B), which Spark 4
    * rejects outright (PARQUET_TYPE_ILLEGAL). We read nanos as a long via
    * the legacy conf and convert to a µs TimestampType column ourselves —
    * same truncation DuckDB's µs arithmetic applies, so oracle-comparable
    * at second/hour/month granularity (never output raw ts, SURVEY §7.4).
    */
  /** Conf key letting Spark 4 read TIMESTAMP(NANOS) parquet as long.
    * `graft.Session.local` sets it at construction; `load` only
    * check-before-sets as a fallback for sessions built elsewhere, so it
    * stays effectively read-only (no repeated conf mutation, no race
    * when queries share a session).
    */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (spark.conf.getOption(NanosConf).forall(_ != "true"))
      spark.conf.set(NanosConf, "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      // Integral arithmetic: ns/1000 through a double would round (ns
      // epoch values exceed the 53-bit mantissa) and can cross a µs/ms
      // boundary. FLOOR semantics need one more step: `div` truncates
      // toward zero, which rounds pre-epoch nanos the wrong way
      // (-500 ns div 1000 = 0 µs, floor = -1 µs — a one-unit bucket
      // shift vs DuckDB's calendar arithmetic over native ns).
      // Subtracting pmod (always non-negative) first makes the operand
      // an exact multiple, so the division IS the floor — exact in
      // long arithmetic for the full range.
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      // tz-less parquet µs timestamps read as TIMESTAMP_NTZ under Spark
      // 4's inferTimestampNTZ default; normalize to TimestampType (the
      // session TZ is pinned UTC, so the cast reinterprets the same
      // wall-clock DuckDB's naive µs arithmetic sees) — watermarks and
      // every window/bucket op require the LTZ type.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
