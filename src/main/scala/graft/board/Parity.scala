package graft
package board

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sinks
import graft.ops.CoreOps
import graft.pipeline.TaxiPipeline

/** Board queries with a line-for-line counterpart in the reference NYC
  * pipeline (SURVEY §2-§3): the cleaning, enrichment, join, sink and
  * window steps of the Airflow DAG, plus the two top-k strategies.
  */
object Parity {

  lazy val cases: Seq[Case] = Seq(

    // §3.1 — the whole reference DAG as one plan (see TaxiPipeline).
    Case("q_flagship_pipeline", (s, dir) => TaxiPipeline.flagship(s, dir),
      Some("""SELECT time_bucket, n_name AS zone, count(*) AS trips,
        |       round(avg(value), 6) AS avg_fare,
        |       round(sum(value), 4) AS total_fare
        |FROM (
        |  SELECT CASE WHEN date_part('hour', ts) BETWEEN 7 AND 9
        |                THEN 'Morning Rush'
        |              WHEN date_part('hour', ts) BETWEEN 17 AND 19
        |                THEN 'Evening Rush'
        |              ELSE 'Other' END AS time_bucket,
        |         value, ((user_id % 25) + 25) % 25 AS zone_key
        |  FROM (SELECT DISTINCT * FROM events
        |        WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |          AND user_id IS NOT NULL AND event_type IS NOT NULL
        |          AND value IS NOT NULL AND props IS NOT NULL)
        |) e LEFT JOIN nation ON e.zone_key = nation.n_nationkey
        |GROUP BY time_bucket, n_name""".stripMargin)),

    // P1 dropna (spark-apps/clean_nyc_taxi_pipeline.py:10)
    Case("q_dropna", (s, dir) =>
      CoreOps.dropNulls(t(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("event_type"),
                col("value")),
      Some("""SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |  AND user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND props IS NOT NULL""".stripMargin)),

    // D1 dropDuplicates ≡ DISTINCT (clean_nyc_taxi_pipeline.py:10)
    Case("q_dedup_distinct", (s, dir) =>
      CoreOps.dedupFullRow(
        t(s, dir, "lineitem").select(col("l_returnflag"),
                                     col("l_linestatus"))),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // Year-over-year growth: yearly order volume/revenue with the
    // growth rate vs the previous year — one partial→final yearly
    // aggregate, then a lag window over the years-sized frame
    Case("q_yoy_growth", (s, dir) => {
      val yearly = t(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("revenue"))
      val w = Window.orderBy(col("yr"))
      yearly
        .withColumn("growth",
          round((col("revenue") - lag(col("revenue"), 1).over(w)) /
                nullif(lag(col("revenue"), 1).over(w), lit(0.0)), 6))
        .select(col("yr"), col("n_orders"), col("revenue"), col("growth"))
    },
      Some("""WITH yearly AS (
        |  SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
        |         count(*) AS n_orders,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
        |SELECT yr, n_orders, revenue,
        |       round((revenue - lag(revenue) OVER (ORDER BY yr)) /
        |             nullif(lag(revenue) OVER (ORDER BY yr), 0), 6)
        |         AS growth
        |FROM yearly""".stripMargin)),

    // P2 month() derive (clean_nyc_taxi_pipeline.py:13)
    Case("q_derive_month", (s, dir) =>
      CoreOps.deriveMonth(t(s, dir, "events"), "ts")
        .groupBy(col("pickup_month"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(date_part('month', ts) AS INTEGER) AS pickup_month,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),

    // C1 CASE WHEN time-bucket enrichment (nyc_taxi_pipeline_dag.py:253-261)
    Case("q_time_bucket", (s, dir) =>
      CoreOps.timeBucket(t(s, dir, "events"), "ts")
        .groupBy(col("time_bucket"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("value")), 6).as("avg_fare")),
      Some("""SELECT CASE WHEN date_part('hour', ts) BETWEEN 7 AND 9
        |              THEN 'Morning Rush'
        |            WHEN date_part('hour', ts) BETWEEN 17 AND 19
        |              THEN 'Evening Rush'
        |            ELSE 'Other' END AS time_bucket,
        |       count(*) AS n, round(avg(value), 6) AS avg_fare
        |FROM events GROUP BY 1""".stripMargin)),

    // P9 rush-hour range predicate on derived hour (…dag.py:257-258)
    Case("q_hour_filter", (s, dir) =>
      t(s, dir, "events")
        .filter(hour(col("ts")).between(7, 9))
        .agg(count(lit(1)).as("morning_rows")),
      Some("""SELECT count(*) AS morning_rows FROM events
        |WHERE date_part('hour', ts) BETWEEN 7 AND 9""".stripMargin)),

    // §3.3 legacy pandas ETL chain: rename (P5) → filter (P3) → const col (P4)
    Case("q_legacy_etl", (s, dir) => {
      val docs = CoreOps.trimHeaders(t(s, dir, "documents"))
      val renamed = CoreOps.renameColumn(docs, "source",
                                         "sponsoring_organization")
      val filtered = CoreOps.filterEq(renamed, "lang", "en")
      CoreOps.constantColumn(filtered, "date_added", "2025-08-29")
        .select(col("doc_id"), col("sponsoring_organization"), col("lang"),
                col("date_added"))
    },
      Some("""SELECT doc_id, source AS sponsoring_organization, lang,
        |       '2025-08-29' AS date_added
        |FROM documents WHERE lang = 'en'""".stripMargin)),

    // P6 column drop (…dag.py:87-88)
    Case("q_drop_col", (s, dir) =>
      CoreOps.dropColumns(t(s, dir, "documents"), "text", "n_chars"),
      Some("SELECT doc_id, lang, source FROM documents")),

    // P8/A2 null-quality violation count (…dag.py:195-201)
    Case("q_quality_nulls", (s, dir) =>
      CoreOps.nullViolationCount(t(s, dir, "events"), Seq("ts", "value")),
      Some("""SELECT count(*) AS null_violations FROM events
        |WHERE ts IS NULL OR value IS NULL""".stripMargin)),

    // A1 COUNT(*) gate (…dag.py:188-192)
    Case("q_row_count", (s, dir) => CoreOps.rowCount(t(s, dir, "lineitem")),
      Some("SELECT count(*) AS n FROM lineitem")),

    // A3 null census (…dag.py:95-96)
    Case("q_null_matrix", (s, dir) =>
      CoreOps.nullMatrix(
        t(s, dir, "events").select(col("ts"), col("user_id"), col("value"),
                                   col("props"))),
      Some("""SELECT CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_ts,
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_user_id,
        |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_value,
        |       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_props
        |FROM events""".stripMargin)),

    // §2.6 broadcast dim join, 2-hop star (zone-lookup pattern)
    Case("q_zone_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("customers"),
             round(avg(col("c_acctbal")), 6).as("avg_bal"))
    },
      Some("""SELECT r_name, count(*) AS customers,
        |       round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),

    // P3/P10 equality filter on a string column
    Case("q_filter_eq", (s, dir) =>
      CoreOps.filterEq(t(s, dir, "part"), "p_brand", "Brand#1")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
                col("p_size")),
      Some("""SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_brand = 'Brand#1'""".stripMargin)),

    // S5+S3 — single-file CSV sink then schema'd re-read (engine-boundary
    // round trip); aggregate must equal the parquet-direct oracle.
    Case("q_csv_roundtrip", (s, dir) => {
      val path = scratch(dir, "csv_roundtrip")
      val src = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      Sinks.writeSingleCsv(src, path)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType)))
      Sinks.readCsv(s, path, schema)
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("id_sum"),
             countDistinct(col("event_type")).as("n_types"))
    },
      Some("""SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       count(DISTINCT event_type) AS n_types
        |FROM events""".stripMargin)),

    // S6 — partitioned parquet sink + partition-pruned re-read (the
    // at-scale replacement for the reference's B-tree indexes, S9).
    // repartition on the partition column first: every writer task owns
    // whole partition values, so the sink emits one file per month instead
    // of numShufflePartitions × 12 small files.
    Case("q_partitioned_write", (s, dir) => {
      val path = scratch(dir, "part_parquet")
      val li = t(s, dir, "lineitem")
        .withColumn("ship_month", month(col("l_shipdate")))
        .repartition(col("ship_month"))
      Sinks.writePartitioned(li, "ship_month", path)
      Tables.read(s, path)
        .filter(col("ship_month") === 3) // prunes to 1/12 of files
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
      Some("""SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem WHERE date_part('month', l_shipdate) = 3""".stripMargin)),

    // S9 — the B-tree-index analog round trip: day-partitioned parquet
    // with sortWithinPartitions(ts), so a day predicate prunes partitions
    // and a time predicate skips row groups via min/max stats (the
    // skipping itself is asserted in BucketingSpec; this query
    // oracle-checks the round-trip result).
    Case("q_sorted_scan", (s, dir) => {
      val path = scratch(dir, "sorted_scan")
      val ev = t(s, dir, "events").withColumn("day", dayofmonth(col("ts")))
      Sinks.writeSortedPartitioned(ev, "day", "ts", path)
      Tables.read(s, path)
        .filter(col("day").between(5, 10))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
    },
      Some("""SELECT count(*) AS n, round(sum(value), 4) AS v
        |FROM events
        |WHERE date_part('day', ts) BETWEEN 5 AND 10""".stripMargin)),

    // S7/S8 — append vs overwrite write dispositions (incremental loading)
    Case("q_append_load", (s, dir) => {
      val path = scratch(dir, "append_load")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      Sinks.replaceLoad(src, path)  // full refresh…
      Sinks.appendLoad(src, path)   // …then one incremental append
      Tables.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
    },
      Some("""SELECT o_orderstatus, CAST(count(*) * 2 AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // S10 autodetect — inferred-schema CSV round trip: single-file CSV
    // sink, then a header+inferSchema re-read (no declared StructType),
    // aggregated against the parquet-direct oracle. Closes the
    // `autodetect=True` fidelity gap left by the declared-schema S3 read.
    Case("q_csv_infer", (s, dir) => {
      val path = scratch(dir, "csv_infer")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Sinks.writeSingleCsv(src, path)
      Sinks.readCsvInferred(s, path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).cast("long").as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    },
      Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin)),

    // Window function with deterministic total order (extension beyond
    // reference parity, oracle-checked as SURVEY §2.7 requires).
    Case("q_topk_per_group", (s, dir) =>
      topkGen(t(s, dir, "lineitem"), 3, "l_returnflag", "l_extendedprice"),
      Some(topkOracle)),

    // The SAME top-k contract through the bounded-buffer Aggregator (the
    // scale path: ≤k rows per partial buffer, shuffle carries k rows per
    // (map task, group) instead of whole groups). Shares the window
    // query's oracle — two physical strategies, one result.
    Case("q_topk_agg", (s, dir) =>
      topkAggGen(t(s, dir, "lineitem"), 3, "l_returnflag"),
      // the bounded-buffer Aggregator must land on the identical rows
      Some(topkOracle)),

    // Analytic window functions: per-customer running total + lag/lead
    // neighbours over a deterministic order (§2.7 breadth beyond
    // row_number)
    Case("q_window_funcs", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("run_total",
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .drop("o_totalprice")
    },
      Some("""SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey
        |         ROWS UNBOUNDED PRECEDING), 2) AS run_total,
        |       lag(o_orderkey) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_key,
        |       lead(o_orderkey) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
        |FROM orders""".stripMargin)),

    // Tumbling-window hourly rollup over the events table (batch form of
    // the streaming demo, SURVEY §2.9).
    Case("q_hourly_rollup", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                  .as("hour_start"),
                col("n"), col("v")),
      // ts IS NOT NULL: Spark's window() analyzer inserts an implicit
      // IsNotNull(ts), so a null-ts row silently drops from the Spark
      // side while a bare GROUP BY would keep a NULL hour group (the
      // q_hopping_rollup twin carries the same guard)
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS hour_start,
        |       count(*) AS n, round(sum(value), 4) AS v
        |FROM events WHERE ts IS NOT NULL GROUP BY 1""".stripMargin))
  )

  /** Parameterized top-k per group, Spark side and oracle (board: k=3 by
    * l_returnflag on l_extendedprice; the fuzzer sweeps k/group/order;
    * the Spark side is the window strategy). Tie-break is
    * always (l_orderkey, l_linenumber) — the deterministic total order
    * both physical strategies (window and bounded-buffer Aggregator)
    * promise.
    */
  private[graft] def topkGen(li: DataFrame, k: Int, grp: String,
                             ord: String): DataFrame = {
    val w = Window.partitionBy(col(grp))
      .orderBy(col(ord).desc, col("l_orderkey").asc,
               col("l_linenumber").asc)
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(grp), col("rn"), col("l_orderkey"),
              col("l_linenumber"), col(ord))
  }

  /** The same top-k contract through the bounded-buffer Aggregator,
    * ordered by l_extendedprice. Nullable-score form (topKTriplesOpt):
    * on a column that can hold nulls the primitive-Double triple NPEs at
    * encode time while the window strategy serves null rows at the
    * bottom — the nullable Aggregator keeps the two strategies
    * result-identical on ANY input (r9).
    */
  private[graft] def topkAggGen(li: DataFrame, k: Int,
                                grp: String): DataFrame = {
    val spark = li.sparkSession
    import spark.implicits._
    li.select(col(grp), col("l_extendedprice"), col("l_orderkey"),
              col("l_linenumber"))
      .as[(String, Option[Double], Long, Int)]
      .groupByKey(_._1)
      .mapValues { case (_, price, okey, ln) => (price, okey, ln) }
      .agg(graft.ops.TopK.topKTriplesOpt(k).toColumn.name("top"))
      .flatMap { case (g, top) =>
        top.zipWithIndex.map { case ((price, okey, ln), i) =>
          (g, i + 1, okey, ln, price)
        }
      }
      .toDF(grp, "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
  }

  private[graft] def topkOracleGen(k: Int, grp: String, ord: String): String =
    s"""SELECT $grp, rn, l_orderkey, l_linenumber, $ord
       |FROM (
       |  SELECT $grp, l_orderkey, l_linenumber, $ord,
       |         CAST(row_number() OVER (
       |           PARTITION BY $grp
       |           ORDER BY $ord DESC, l_orderkey ASC,
       |                    l_linenumber ASC) AS INTEGER) AS rn
       |  FROM lineitem)
       |WHERE rn <= $k""".stripMargin

  /** Shared truth for both top-k strategies (window row_number and the
    * bounded-buffer Aggregator): identical rows, identical tie-breaks.
    */
  private val topkOracle: String =
    topkOracleGen(3, "l_returnflag", "l_extendedprice")
}
