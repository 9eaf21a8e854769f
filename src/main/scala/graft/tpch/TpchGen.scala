package graft.tpch

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The TPC-H query bank: one parameterized builder per query, and the
  * 22 board queries as pinned draws of those builders (`board`).
  *
  * Each `qN` takes the TPC-H spec's substitution parameters (dates,
  * discount ±0.01, quantity cuts, brands, types, sizes, segments,
  * nation/region draws — TPC-H v3 §2.4, public) and returns BOTH sides
  * of the differential check: the Spark builder and its DuckDB twin.
  * `board` pins each query at one parameter point; `SparkEntry.cases`
  * turns each entry into a `board.Case` (`run` as the builder, `sql` as
  * the oracle), from which `queries` and `oracleSql` derive; the fuzz
  * families (tpch_a/b/c) draw the same builders across the
  * parameter space, so the query the driver verifies is the one the
  * fuzzer sweeps.
  *
  * AGGREGATE PORTABILITY: `round(sum(double), 2)` money sums are
  * order-sensitive in their low bits (the documented `genAgg`
  * double-sum exclusion) and land on the 0.005-rounding boundary as
  * environmental flakes across hundreds of configurations. So every
  * money aggregate is CENTS-QUANTIZED: the per-row expression is the
  * query's own (`l_extendedprice * (1 - l_discount)` etc.), rounded to
  * integer cents PER ROW (exact: the corpus is 2-decimal by
  * construction, and per-row rounding of a full-entropy product misses
  * the .5 midpoint with ~1e-12 probability), then summed as BIGINT —
  * exact and order-independent on both engines. Top-k orderings ride
  * the exact cents column so ties are decided identically. Averages
  * are of per-row integer quantities (exact sums, one IEEE division on
  * both engines) and round through `duckR`.
  *
  * Scale notes: dims broadcast, correlated subqueries decorrelated to
  * semi/anti/aggregate joins, scalar subqueries ride one-row broadcast
  * cross joins, no global sort except under LIMIT
  * (TakeOrderedAndProject).
  *
  * Adapted to the synthetic schema (TESTDATA.md): no
  * l_commitdate/l_receiptdate → lateness is ship-lag vs o_orderdate; no
  * partsupp → Q2/Q11/Q16/Q20 take the part↔supplier relation from
  * lineitem co-occurrence; no c_phone → Q22 groups by c_nationkey; no
  * o_comment → Q13 excludes one priority in the join condition.
  *
  * Reference for query intent: TPC-H spec (public); the reference
  * repo's DAG has no decision-support queries of its own
  * (`/root/reference/dags/nyc_taxi_pipeline_dag.py` is a 7-task ETL) —
  * this bank is north-star extension surface.
  */
object TpchGen {

  /** Table loader hook: the fuzzer injects perturbed (crafted-row)
    * frames per table; default is the plain `Tables.load`.
    */
  type Loader = (SparkSession, String, String) => DataFrame

  final case class Q(run: (SparkSession, String) => DataFrame, sql: String)

  // ---- shared helpers --------------------------------------------------

  private def ts(d: LocalDate): Column =
    lit(java.sql.Timestamp.valueOf(d.atStartOfDay()))
  private def tsSql(d: LocalDate): String = s"TIMESTAMP '$d 00:00:00'"

  /** Per-row integer cents: exact on the 2-decimal corpus; both
    * engines' `round` agree away from the ~1e-12-probability midpoint.
    */
  private def cents(e: Column): Column = round(e * 100, 0).cast("long")
  private def cSql(e: String): String =
    s"CAST(round(($e) * 100, 0) AS BIGINT)"
  /** Cents sum with the HUGEINT→BIGINT cast (genAgg precedent: DuckDB
    * sums BIGINT into HUGEINT, which arrives as Decimal and fails the
    * type-sensitive compare).
    */
  private def sumCSql(e: String): String =
    s"CAST(sum(${cSql(e)}) AS BIGINT)"

  /** DuckDB-side round matching Spark round()'s shortest-repr HALF_UP
    * (the duckR6 seam, r9's fourth fuzz catch): REQUIRED wherever the
    * rounded value is GRID-RATIONAL rather than full-entropy — ratios
    * of integers (avg of integral quantities, cents shares) and
    * price/quantity units land decimal expansions EXACTLY on round
    * midpoints, where DuckDB's binary round and Spark's decimal-text
    * round disagree (first r10 TPC-H sweep caught Q2's unit cost at
    * 26.24125 immediately).
    */
  private def duckR(e: String, scale: Int): String =
    s"CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,19)), " +
      s"$scale) AS DOUBLE)"

  private def rev(li: DataFrame): Column =
    li("l_extendedprice") * (lit(1.0) - li("l_discount"))
  private val revC: Column =
    cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
  private val revSql = "l_extendedprice * (1.0 - l_discount)"

  private val regionNames =
    Map(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE",
        4 -> "MIDDLE EAST")

  // ---- Q1 pricing summary ---------------------------------------------

  /** delta ∈ [60,120] days back from 2001-12-01 (TPC-H rule shape on
    * this corpus's 1995..2001-11 shipdate span). Price and discount
    * averages run over per-row integer cents / percent points.
    */
  def q1(load: Loader, deltaDays: Int): Q = {
    val cutoff = LocalDate.of(2001, 12, 1).minusDays(deltaDays.toLong)
    Q(
      (s, dir) =>
        load(s, dir, "lineitem")
          .filter(col("l_shipdate") <= ts(cutoff))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
               sum(cents(col("l_extendedprice"))).as("base_cents"),
               sum(revC).as("disc_cents"),
               sum(cents(col("l_extendedprice") *
                         (lit(1.0) - col("l_discount")) *
                         (lit(1.0) + col("l_tax")))).as("charge_cents"),
               round(avg(col("l_quantity")), 6).as("avg_qty"),
               round(avg(cents(col("l_extendedprice"))), 6)
                 .as("avg_price_cents"),
               round(avg(cents(col("l_discount"))) / 100, 6)
                 .as("avg_disc"),
               count(lit(1)).as("count_order")),
      s"""SELECT l_returnflag, l_linestatus,
         |       round(sum(l_quantity), 4) AS sum_qty,
         |       ${sumCSql("l_extendedprice")} AS base_cents,
         |       ${sumCSql(revSql)} AS disc_cents,
         |       ${sumCSql(s"$revSql * (1.0 + l_tax)")} AS charge_cents,
         |       ${duckR("avg(l_quantity)", 6)} AS avg_qty,
         |       ${duckR(s"avg(${cSql("l_extendedprice")})", 6)}
         |         AS avg_price_cents,
         |       ${duckR(s"avg(${cSql("l_discount")}) / 100.0", 6)}
         |         AS avg_disc,
         |       count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= ${tsSql(cutoff)}
         |GROUP BY 1, 2""".stripMargin)
  }

  // ---- Q3 shipping priority -------------------------------------------

  def q3(load: Loader, segment: String, date: LocalDate): Q = Q(
    (s, dir) => {
      val cust = load(s, dir, "customer")
        .filter(col("c_mktsegment") === segment)
        .select(col("c_custkey"))
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") < ts(date))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") > ts(date))
        .select(col("l_orderkey"), col("l_extendedprice"),
                col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
                 date_format(col("o_orderdate"), "yyyy-MM-dd")
                   .as("o_orderdate"))
        .agg(sum(revC).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    },
    s"""SELECT l_orderkey,
       |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |       ${sumCSql(revSql)} AS revenue_cents
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = '$segment'
       |  AND o_orderdate < ${tsSql(date)}
       |  AND l_shipdate > ${tsSql(date)}
       |GROUP BY 1, 2
       |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)

  // ---- Q4 order-priority checking (EXISTS → left-semi) -----------------

  def q4(load: Loader, start: LocalDate, months: Int, lateDays: Int): Q = {
    val end = start.plusMonths(months.toLong)
    Q(
      (s, dir) => {
        val ord = load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts(start) &&
                  col("o_orderdate") < ts(end))
          .select(col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
        val li = load(s, dir, "lineitem").select(col("l_orderkey"),
                                                 col("l_shipdate"))
        ord.join(li,
                 col("l_orderkey") === col("o_orderkey") &&
                   col("l_shipdate") >
                     col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
                 "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= ${tsSql(start)}
         |  AND o_orderdate < ${tsSql(end)}
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey
         |                AND l_shipdate > o_orderdate
         |                      + INTERVAL $lateDays DAY)
         |GROUP BY 1""".stripMargin)
  }

  // ---- Q5 local-supplier volume ----------------------------------------

  def q5(load: Loader, regionKey: Int, year: Int): Q = {
    val rName = regionNames(regionKey)
    val start = LocalDate.of(year, 1, 1)
    val end = start.plusYears(1L)
    Q(
      (s, dir) => {
        val nations = load(s, dir, "nation")
          .join(load(s, dir, "region").filter(col("r_name") === rName),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val ord = load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts(start) &&
                  col("o_orderdate") < ts(end))
          .select(col("o_orderkey"), col("o_custkey"))
        val sup = load(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
                  col("l_extendedprice"), col("l_discount"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup),
                col("l_suppkey") === col("s_suppkey") &&
                  col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nations),
                col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(revC).as("revenue_cents"))
      },
      // Explicit JOIN ... ON (not a comma FROM-list): Fuzz.retarget
      // only rewrites references preceded by FROM/JOIN, so a comma
      // list would leave orders/lineitem/supplier reading the BASE
      // tables under perturbation while the engine reads perturbed
      // ones (r10 advisor catch — pert=ord/li/supp configs for q5
      // silently tested nothing).
      s"""SELECT n_name, ${sumCSql(revSql)} AS revenue_cents
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = '$rName'
         |  AND o_orderdate >= ${tsSql(start)}
         |  AND o_orderdate < ${tsSql(end)}
         |GROUP BY 1""".stripMargin)
  }

  // ---- Q6 forecasting revenue change ------------------------------------

  /** discount BETWEEN center−0.01 AND center+0.01 (the spec's ±0.01
    * rule), quantity < qtyCut — both 0.01-grid literals parse to the
    * same doubles on both engines.
    */
  def q6(load: Loader, year: Int, discCenter: Double, qtyCut: Int): Q = {
    val start = LocalDate.of(year, 1, 1)
    val end = start.plusYears(1L)
    val lo = (math.round(discCenter * 100) - 1) / 100.0
    val hi = (math.round(discCenter * 100) + 1) / 100.0
    Q(
      (s, dir) =>
        load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts(start) &&
                  col("l_shipdate") < ts(end) &&
                  col("l_discount").between(lo, hi) &&
                  col("l_quantity") < qtyCut)
          .agg(coalesce(sum(cents(col("l_extendedprice") *
                                  col("l_discount"))), lit(0L))
                 .as("revenue_cents")),
      s"""SELECT CAST(coalesce(
         |         sum(${cSql("l_extendedprice * l_discount")}), 0)
         |         AS BIGINT) AS revenue_cents
         |FROM lineitem
         |WHERE l_shipdate >= ${tsSql(start)}
         |  AND l_shipdate < ${tsSql(end)}
         |  AND l_discount BETWEEN $lo AND $hi
         |  AND l_quantity < $qtyCut""".stripMargin)
  }

  // ---- Q7 volume shipping between two regions ---------------------------

  def q7(load: Loader, regA: Int, regB: Int, startYear: Int): Q = {
    val start = LocalDate.of(startYear, 1, 1)
    val end = start.plusYears(2L)
    val (nA, nB) = (regionNames(regA), regionNames(regB))
    Q(
      (s, dir) => {
        val nat = load(s, dir, "nation")
          .filter(col("n_regionkey").isin(regA, regB))
          .select(col("n_nationkey"), col("n_regionkey"))
        val sup = load(s, dir, "supplier")
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_regionkey").as("s_region"))
        val cust = load(s, dir, "customer")
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_regionkey").as("c_region"))
        val ord = load(s, dir, "orders").select(col("o_orderkey"),
                                                col("o_custkey"))
        load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts(start) &&
                  col("l_shipdate") < ts(end))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
                  col("l_extendedprice"), col("l_discount"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter((col("s_region") === regA && col("c_region") === regB) ||
                  (col("s_region") === regB && col("c_region") === regA))
          .groupBy(when(col("s_region") === regA, nA).otherwise(nB)
                     .as("supp_region"),
                   when(col("c_region") === regA, nA).otherwise(nB)
                     .as("cust_region"),
                   year(col("l_shipdate")).as("l_year"))
          .agg(sum(revC).as("revenue_cents"))
      },
      s"""SELECT CASE WHEN n1.n_regionkey = $regA THEN '$nA'
         |            ELSE '$nB' END AS supp_region,
         |       CASE WHEN n2.n_regionkey = $regA THEN '$nA'
         |            ELSE '$nB' END AS cust_region,
         |       CAST(date_part('year', l_shipdate) AS INTEGER) AS l_year,
         |       ${sumCSql(revSql)} AS revenue_cents
         |FROM lineitem
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN nation n1 ON n1.n_nationkey = s_nationkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation n2 ON n2.n_nationkey = c_nationkey
         |WHERE ((n1.n_regionkey = $regA AND n2.n_regionkey = $regB) OR
         |       (n1.n_regionkey = $regB AND n2.n_regionkey = $regA))
         |  AND l_shipdate >= ${tsSql(start)}
         |  AND l_shipdate < ${tsSql(end)}
         |GROUP BY 1, 2, 3""".stripMargin)
  }

  // ---- Q8 national market share -----------------------------------------

  /** The spec's draw: the customers' region is the nation's own. */
  def q8(load: Loader, pType: String, nationKey: Int, startYear: Int): Q =
    q8(load, pType, nationKey, nationKey % 5, startYear)

  /** Share of `nationKey`'s suppliers in `custRegion`'s purchases, from
    * the two cents sums (exact ints) — the division and the round-6 are
    * then bit-identical on both engines.
    */
  def q8(load: Loader, pType: String, nationKey: Int, custRegion: Int,
         startYear: Int): Q = {
    val rName = regionNames(custRegion)
    val start = LocalDate.of(startYear, 1, 1)
    val end = start.plusYears(2L)
    Q(
      (s, dir) => {
        val parts = load(s, dir, "part")
          .filter(col("p_type") === pType).select(col("p_partkey"))
        val nats = load(s, dir, "nation")
          .join(load(s, dir, "region").filter(col("r_name") === rName),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))
        val cust = load(s, dir, "customer")
          .join(broadcast(nats), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"))
        val ord = load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts(start) &&
                  col("o_orderdate") < ts(end))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val sup = load(s, dir, "supplier").select(col("s_suppkey"),
                                                  col("s_nationkey"))
        load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
                  col("l_extendedprice"), col("l_discount"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .withColumn("vc", revC)
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(sum(when(col("s_nationkey") === nationKey,
                              col("vc")).otherwise(lit(0L)))
                       .cast("double") /
                     sum(col("vc")).cast("double"), 6).as("mkt_share"))
      },
      s"""SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year,
         |       ${duckR(
        s"""CAST(sum(CASE WHEN s_nationkey = $nationKey
           |                      THEN ${cSql(revSql)}
           |                      ELSE 0 END) AS DOUBLE) /
           |             CAST(sum(${cSql(revSql)}) AS DOUBLE)""".stripMargin,
        6)}
         |         AS mkt_share
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation ON n_nationkey = c_nationkey
         |JOIN region ON r_regionkey = n_regionkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |WHERE p_type = '$pType' AND r_name = '$rName'
         |  AND o_orderdate >= ${tsSql(start)}
         |  AND o_orderdate < ${tsSql(end)}
         |GROUP BY 1""".stripMargin)
  }

  // ---- Q9 product-type profit -------------------------------------------

  def q9(load: Loader, nameWord: String): Q = {
    val profit = s"$revSql - 0.1 * p_retailprice * l_quantity"
    Q(
      (s, dir) => {
        val parts = load(s, dir, "part")
          .filter(col("p_name").contains(nameWord))
          .select(col("p_partkey"), col("p_retailprice"))
        val sup = load(s, dir, "supplier").select(col("s_suppkey"),
                                                  col("s_nationkey"))
        val ord = load(s, dir, "orders").select(col("o_orderkey"),
                                                col("o_orderdate"))
        load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
                  col("l_quantity"), col("l_extendedprice"),
                  col("l_discount"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(concat(lit("NATION_"), col("s_nationkey")).as("nation"),
                   year(col("o_orderdate")).as("o_year"))
          .agg(sum(cents(col("l_extendedprice") *
                           (lit(1.0) - col("l_discount")) -
                         lit(0.1) * col("p_retailprice") *
                           col("l_quantity"))).as("profit_cents"))
      },
      s"""SELECT 'NATION_' || s_nationkey AS nation,
         |       CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year,
         |       ${sumCSql(profit)} AS profit_cents
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN orders ON o_orderkey = l_orderkey
         |WHERE p_name LIKE '%$nameWord%'
         |GROUP BY 1, 2""".stripMargin)
  }

  // ---- Q10 returned-item reporting ---------------------------------------

  def q10(load: Loader, start: LocalDate): Q = {
    val end = start.plusMonths(3L)
    Q(
      (s, dir) => {
        val ord = load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts(start) &&
                  col("o_orderdate") < ts(end))
          .select(col("o_orderkey"), col("o_custkey"))
        load(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"),
                  col("l_discount"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(load(s, dir, "customer")
                  .select(col("c_custkey"), col("c_name"),
                          col("c_acctbal"), col("c_nationkey"))),
                col("o_custkey") === col("c_custkey"))
          .join(broadcast(load(s, dir, "nation")
                  .select(col("n_nationkey"), col("n_name"))),
                col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"),
                   round(col("c_acctbal"), 2).as("c_acctbal"),
                   col("n_name"))
          .agg(sum(revC).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
          .limit(20)
      },
      s"""SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
         |       n_name, ${sumCSql(revSql)} AS revenue_cents
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= ${tsSql(start)}
         |  AND o_orderdate < ${tsSql(end)}
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)
  }

  // ---- Q11 important stock -----------------------------------------------

  /** Threshold = mult × mean part value of the region slice (the
    * board's 1/SF-scaled relative form). Cents make both the per-part
    * values and the mean exact, so the strict `>` cut is decided
    * identically even when the mean lands on an integer.
    */
  def q11(load: Loader, regionKey: Int, mult: Double): Q = Q(
    (s, dir) => {
      val rSupp = load(s, dir, "supplier")
        .join(broadcast(load(s, dir, "nation")
                .filter(col("n_regionkey") === regionKey)
                .select(col("n_nationkey"))),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val partVal = load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
                col("l_extendedprice"))
        .join(broadcast(rSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
      val cut = partVal
        .agg((avg(col("value_cents")) * lit(mult)).as("value_cut"))
      partVal
        .crossJoin(broadcast(cut))
        .filter(col("value_cents") > col("value_cut"))
        .select(col("l_partkey"), col("value_cents"))
    },
    s"""WITH sl AS (SELECT l_partkey, l_extendedprice
       |            FROM lineitem
       |            JOIN supplier ON s_suppkey = l_suppkey
       |            JOIN nation ON n_nationkey = s_nationkey
       |            WHERE n_regionkey = $regionKey),
       |     pv AS (SELECT l_partkey,
       |                   CAST(sum(${cSql("l_extendedprice")}) AS BIGINT)
       |                     AS value_cents
       |            FROM sl GROUP BY 1)
       |SELECT l_partkey, value_cents
       |FROM pv
       |WHERE value_cents > (SELECT $mult * avg(value_cents) FROM pv)"""
      .stripMargin)

  // ---- Q12 shipping-delay priority split ----------------------------------

  def q12(load: Loader, cut1: Int, cut2: Int): Q = Q(
    (s, dir) => {
      val ord = load(s, dir, "orders").select(col("o_orderkey"),
                                              col("o_orderdate"),
                                              col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag", datediff(col("l_shipdate"), col("o_orderdate")))
        .groupBy(when(col("lag") <= cut1, "fast")
                   .when(col("lag") <= cut2, "normal")
                   .otherwise("slow").as("delay_bucket"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
             sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
    },
    s"""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= $cut1
       |              THEN 'fast'
       |            WHEN date_diff('day', o_orderdate, l_shipdate) <= $cut2
       |              THEN 'normal'
       |            ELSE 'slow' END AS delay_bucket,
       |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |                     THEN 1 ELSE 0 END) AS BIGINT)
       |         AS high_line_count,
       |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |                     THEN 0 ELSE 1 END) AS BIGINT)
       |         AS low_line_count
       |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |GROUP BY 1""".stripMargin)

  // ---- Q13 customer order-count distribution -------------------------------

  def q13(load: Loader, exclPriority: String): Q = Q(
    (s, dir) => {
      val ord = load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= exclPriority)
        .select(col("o_orderkey"), col("o_custkey"))
      load(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    s"""SELECT c_count, count(*) AS custdist
       |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
       |      FROM customer LEFT OUTER JOIN orders
       |        ON c_custkey = o_custkey
       |        AND o_orderpriority <> '$exclPriority'
       |      GROUP BY 1)
       |GROUP BY 1""".stripMargin)

  // ---- Q14 promo revenue share ---------------------------------------------

  def q14(load: Loader, start: LocalDate): Q = {
    val end = start.plusMonths(1L)
    Q(
      (s, dir) => {
        val parts = load(s, dir, "part").select(col("p_partkey"),
                                                col("p_type"))
        load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts(start) &&
                  col("l_shipdate") < ts(end))
          .select(col("l_partkey"), col("l_extendedprice"),
                  col("l_discount"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .withColumn("vc", revC)
          .agg(round(lit(100.0) *
                       sum(when(col("p_type") === "PROMO", col("vc"))
                             .otherwise(lit(0L))).cast("double") /
                     sum(col("vc")).cast("double"), 6)
                 .as("promo_share"))
      },
      s"""SELECT ${duckR(
        s"""100.0 *
           |             CAST(sum(CASE WHEN p_type = 'PROMO'
           |                      THEN ${cSql(revSql)}
           |                      ELSE 0 END) AS DOUBLE) /
           |             CAST(sum(${cSql(revSql)}) AS DOUBLE)""".stripMargin,
        6)}
         |         AS promo_share
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_shipdate >= ${tsSql(start)}
         |  AND l_shipdate < ${tsSql(end)}""".stripMargin)
  }

  // ---- Q15 top supplier ------------------------------------------------------

  def q15(load: Loader, start: LocalDate): Q = {
    val end = start.plusMonths(3L)
    Q(
      (s, dir) => {
        val rev0 = load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts(start) &&
                  col("l_shipdate") < ts(end))
          .groupBy(col("l_suppkey"))
          .agg(sum(revC).as("revenue_cents"))
        val top = rev0.agg(max(col("revenue_cents")).as("max_cents"))
        rev0.join(broadcast(top),
                  col("revenue_cents") === col("max_cents"))
          .join(load(s, dir, "supplier").select(col("s_suppkey"),
                                                col("s_name")),
                col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
      },
      s"""WITH rev AS (SELECT l_suppkey,
         |                    ${sumCSql(revSql)} AS revenue_cents
         |             FROM lineitem
         |             WHERE l_shipdate >= ${tsSql(start)}
         |               AND l_shipdate < ${tsSql(end)}
         |             GROUP BY 1)
         |SELECT s_suppkey, s_name, revenue_cents
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)"""
        .stripMargin)
  }

  // ---- Q16 supplier diversity -------------------------------------------------

  def q16(load: Loader, exclBrand: String, exclType: String,
          sizes: Seq[Int], balCut: Double): Q = {
    val sizeList = sizes.mkString(", ")
    Q(
      (s, dir) => {
        val badSupp = load(s, dir, "supplier")
          .filter(col("s_acctbal") < balCut).select(col("s_suppkey"))
        val parts = load(s, dir, "part")
          .filter(col("p_brand") =!= exclBrand &&
                  col("p_type") =!= exclType &&
                  col("p_size").isin(sizes: _*))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
                  col("p_size"))
        load(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
                "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      s"""SELECT p_brand, p_type, p_size,
         |       count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> '$exclBrand' AND p_type <> '$exclType'
         |  AND p_size IN ($sizeList)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
         |                        WHERE s_acctbal < $balCut)
         |GROUP BY 1, 2, 3""".stripMargin)
  }

  // ---- Q17 small-quantity-order revenue -----------------------------------------

  /** frac × per-part avg quantity: quantities are integral, so the avg
    * is an exact ratio both engines compute identically; the strict `<`
    * comparison is then portable at every frac on the 0.05 grid.
    */
  def q17(load: Loader, brand: String, pType: String, frac: Double): Q = Q(
    (s, dir) => {
      val parts = load(s, dir, "part")
        .filter(col("p_brand") === brand && col("p_type") === pType)
        .select(col("p_partkey"))
      val li = load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
                col("l_extendedprice"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      val thr = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((lit(frac) * avg(col("l_quantity"))).as("qty_cut"))
      li.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_cut"))
        .agg(coalesce(sum(cents(col("l_extendedprice"))), lit(0L))
               .as("revenue_cents"))
    },
    s"""SELECT CAST(coalesce(sum(${cSql("l_extendedprice")}), 0)
       |         AS BIGINT) AS revenue_cents
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE p_brand = '$brand' AND p_type = '$pType'
       |  AND l_quantity < (SELECT $frac * avg(l_quantity)
       |                    FROM lineitem l2
       |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)

  // ---- Q18 large-volume customers --------------------------------------------------

  def q18(load: Loader, qtyThresh: Int): Q = Q(
    (s, dir) => {
      val li = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val heavy = li.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 4).as("total_qty"))
        .filter(col("total_qty") > qtyThresh)
      load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                col("o_totalprice"),
                date_format(col("o_orderdate"), "yyyy-MM-dd")
                  .as("o_orderdate"))
        .join(heavy, col("o_orderkey") === col("l_orderkey"))
        .join(load(s, dir, "customer")
                .select(col("c_custkey"), col("c_name")),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
                col("o_orderdate"),
                cents(col("o_totalprice")).as("totalprice_cents"),
                col("total_qty"))
        .orderBy(col("totalprice_cents").desc_nulls_last,
                 col("o_orderdate").asc_nulls_first,
                 col("o_orderkey").asc)
        .limit(100)
    },
    s"""WITH heavy AS (SELECT l_orderkey,
       |                      round(sum(l_quantity), 4) AS total_qty
       |               FROM lineitem GROUP BY 1
       |               HAVING round(sum(l_quantity), 4) > $qtyThresh)
       |SELECT c_name, c_custkey, o_orderkey,
       |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |       ${cSql("o_totalprice")} AS totalprice_cents, total_qty
       |FROM heavy JOIN orders ON o_orderkey = l_orderkey
       |           JOIN customer ON o_custkey = c_custkey
       |ORDER BY totalprice_cents DESC NULLS LAST,
       |         o_orderdate ASC NULLS FIRST, o_orderkey
       |LIMIT 100""".stripMargin)

  // ---- Q19 discounted revenue, OR-of-ANDs --------------------------------------------

  def q19(load: Loader, brands: Seq[String], qtyLos: Seq[Int]): Q = {
    val Seq(b1, b2, b3) = brands
    val Seq(q1v, q2v, q3v) = qtyLos
    Q(
      (s, dir) => {
        val parts = load(s, dir, "part")
          .filter((col("p_brand") === b1 && col("p_size").between(1, 5)) ||
                  (col("p_brand") === b2 && col("p_size").between(1, 10)) ||
                  (col("p_brand") === b3 && col("p_size").between(1, 15)))
          .select(col("p_partkey"), col("p_brand"))
        load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
                  col("l_extendedprice"), col("l_discount"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === b1 &&
               col("l_quantity").between(q1v, q1v + 10)) ||
            (col("p_brand") === b2 &&
               col("l_quantity").between(q2v, q2v + 10)) ||
            (col("p_brand") === b3 &&
               col("l_quantity").between(q3v, q3v + 10)))
          .agg(coalesce(sum(revC), lit(0L)).as("revenue_cents"))
      },
      s"""SELECT CAST(coalesce(sum(${cSql(revSql)}), 0) AS BIGINT)
         |         AS revenue_cents
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = '$b1' AND p_size BETWEEN 1 AND 5
         |         AND l_quantity BETWEEN $q1v AND ${q1v + 10})
         |   OR (p_brand = '$b2' AND p_size BETWEEN 1 AND 10
         |         AND l_quantity BETWEEN $q2v AND ${q2v + 10})
         |   OR (p_brand = '$b3' AND p_size BETWEEN 1 AND 15
         |         AND l_quantity BETWEEN $q3v AND ${q3v + 10})"""
        .stripMargin)
  }

  // ---- Q20 excess-share suppliers -------------------------------------------------------

  def q20(load: Loader, pType: String, mult: Double): Q = Q(
    (s, dir) => {
      val parts = load(s, dir, "part")
        .filter(col("p_type") === pType).select(col("p_partkey"))
      val pairQty = load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sq"))
      val totQty = pairQty.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("sq")).as("tq"), count(lit(1)).as("nsupp"))
      val bigShare = pairQty
        .join(broadcast(totQty), col("l_partkey") === col("t_partkey"))
        .filter(col("sq") > lit(mult) * col("tq") / col("nsupp"))
        .select(col("l_suppkey")).distinct()
      load(s, dir, "supplier")
        .join(bigShare, col("s_suppkey") === col("l_suppkey"),
              "left_semi")
        .select(col("s_name"), cents(col("s_acctbal")).as("acctbal_cents"))
    },
    s"""WITH pq AS (SELECT l_partkey, l_suppkey,
       |                   sum(l_quantity) AS sq
       |            FROM lineitem
       |            JOIN part ON p_partkey = l_partkey
       |            WHERE p_type = '$pType'
       |            GROUP BY 1, 2),
       |     tot AS (SELECT l_partkey, sum(sq) AS tq,
       |                    count(*) AS nsupp
       |             FROM pq GROUP BY 1)
       |SELECT s_name, ${cSql("s_acctbal")} AS acctbal_cents
       |FROM supplier
       |WHERE s_suppkey IN (SELECT l_suppkey
       |                    FROM pq JOIN tot USING (l_partkey)
       |                    WHERE sq > $mult * tq / nsupp)""".stripMargin)

  // ---- Q21 suppliers who kept orders waiting -----------------------------------------------

  def q21(load: Loader, lateDays: Int, status: String): Q = Q(
    (s, dir) => {
      val ordF = load(s, dir, "orders")
        .filter(col("o_orderstatus") === status)
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = load(s, dir, "lineitem").select(col("l_orderkey"),
                                               col("l_suppkey"),
                                               col("l_shipdate"))
      val late = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
                col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      val anySupp = li.select(col("l_orderkey").as("k2"),
                              col("l_suppkey").as("s2"))
      val lateSupp = late.select(col("l_orderkey").as("k3"),
                                 col("l_suppkey").as("s3"))
      late
        .join(anySupp, col("l_orderkey") === col("k2") &&
                         col("s2") =!= col("l_suppkey"), "left_semi")
        .join(lateSupp, col("l_orderkey") === col("k3") &&
                          col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(load(s, dir, "supplier")
                          .select(col("s_suppkey"), col("s_name"))),
              col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },
    s"""SELECT s_name, count(*) AS numwait
       |FROM lineitem l1
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN supplier ON s_suppkey = l1.l_suppkey
       |WHERE o_orderstatus = '$status'
       |  AND l1.l_shipdate > o_orderdate + INTERVAL $lateDays DAY
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_shipdate >
       |                          o_orderdate + INTERVAL $lateDays DAY)
       |GROUP BY 1
       |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)

  // ---- Q22 dormant high-balance customers ------------------------------------------------------

  def q22(load: Loader, nationKeys: Seq[Int], cut: LocalDate): Q = {
    val keyList = nationKeys.mkString(", ")
    Q(
      (s, dir) => {
        val inSet = col("c_nationkey").isin(nationKeys: _*)
        val cust = load(s, dir, "customer").filter(inSet)
          .select(col("c_custkey"), col("c_nationkey"),
                  col("c_acctbal"))
        val balCut = cust.filter(col("c_acctbal") > 0)
          .agg((avg(cents(col("c_acctbal"))) / lit(100.0)).as("bal_cut"))
        val recent = load(s, dir, "orders")
          .filter(col("o_orderdate") >= ts(cut))
          .select(col("o_custkey"))
        cust.crossJoin(broadcast(balCut))
          .filter(col("c_acctbal") > col("bal_cut"))
          .join(recent, col("c_custkey") === col("o_custkey"),
                "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
               sum(cents(col("c_acctbal"))).as("totbal_cents"))
      },
      s"""SELECT c_nationkey, count(*) AS numcust,
         |       CAST(sum(${cSql("c_acctbal")}) AS BIGINT)
         |         AS totbal_cents
         |FROM customer
         |WHERE c_nationkey IN ($keyList)
         |  AND c_acctbal > (SELECT avg(${cSql("c_acctbal")}) / 100.0
         |                   FROM customer
         |                   WHERE c_acctbal > 0
         |                     AND c_nationkey IN ($keyList))
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= ${tsSql(cut)})
         |GROUP BY 1""".stripMargin)
  }

  // ---- Q2 min-cost supplier ---------------------------------------------------------------

  /** Unit cost = min(extendedprice/quantity): min/max are exact-portable
    * (no accumulation), and the cost==min equality compares the same
    * stored doubles on both sides. The output round-4 of the cost rides
    * `duckR` — cents/quantity is grid-rational, so exact round-4
    * midpoints are COMMON (the very first r10 sweep hit 26.24125), not
    * the ~ulp-rare case full-entropy doubles present.
    */
  def q2(load: Loader, pType: String, sizeLo: Int, sizeHi: Int,
         regionKey: Int): Q = {
    val rName = regionNames(regionKey)
    Q(
      (s, dir) => {
        val rs = load(s, dir, "supplier")
          .join(broadcast(
                  load(s, dir, "nation")
                    .join(load(s, dir, "region")
                            .filter(col("r_name") === rName),
                          col("n_regionkey") === col("r_regionkey"))
                    .select(col("n_nationkey"), col("n_name"))),
                col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
                  col("n_name"))
        val parts = load(s, dir, "part")
          .filter(col("p_type") === pType &&
                  col("p_size").between(sizeLo, sizeHi))
          .select(col("p_partkey"))
        val pairCost = load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
                  (col("l_extendedprice") / col("l_quantity")).as("unit"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(rs.select(col("s_suppkey"))),
                col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("unit")).as("cost"))
        val minCost = pairCost.groupBy(col("l_partkey").as("m_partkey"))
          .agg(min(col("cost")).as("min_cost"))
        pairCost
          .join(broadcast(minCost),
                col("l_partkey") === col("m_partkey") &&
                  col("cost") === col("min_cost"))
          .join(broadcast(rs), col("l_suppkey") === col("s_suppkey"))
          .select(cents(col("s_acctbal")).as("acctbal_cents"),
                  col("s_name"), col("n_name"),
                  col("l_partkey").as("p_partkey"),
                  round(col("cost"), 4).as("supplycost"))
          .orderBy(col("acctbal_cents").desc, col("n_name").asc,
                   col("s_name").asc, col("p_partkey").asc)
          .limit(100)
      },
      s"""WITH rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |            FROM supplier
         |            JOIN nation ON n_nationkey = s_nationkey
         |            JOIN region ON r_regionkey = n_regionkey
         |            WHERE r_name = '$rName'),
         |     ps AS (SELECT l_partkey, l_suppkey,
         |                   min(l_extendedprice / l_quantity) AS cost
         |            FROM lineitem
         |            JOIN part ON p_partkey = l_partkey
         |            JOIN rs ON s_suppkey = l_suppkey
         |            WHERE p_type = '$pType'
         |              AND p_size BETWEEN $sizeLo AND $sizeHi
         |            GROUP BY 1, 2)
         |SELECT ${cSql("s_acctbal")} AS acctbal_cents, s_name, n_name,
         |       l_partkey AS p_partkey, ${duckR("cost", 4)} AS supplycost
         |FROM ps JOIN rs ON s_suppkey = l_suppkey
         |WHERE cost = (SELECT min(cost) FROM ps ps2
         |              WHERE ps2.l_partkey = ps.l_partkey)
         |ORDER BY acctbal_cents DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin)
  }

  // ---- the board ---------------------------------------------------------

  /** The 22 board queries, each a draw of its builder at the parameter
    * point the board pins. `SparkEntry.cases` maps each to a `board.Case`,
    * so the driver views (`SparkEntry.queries` and `oracleSql`) both
    * derive from this one list.
    */
  val board: Seq[(String, Q)] = {
    val L: Loader = graft.Tables.load
    def d(iso: String) = LocalDate.parse(iso)
    Seq(
      "q_tpch_q1" -> q1(L, deltaDays = 1186), // shipdate <= 1998-09-02
      "q_tpch_q2" -> q2(L, "LARGE", 10, 20, regionKey = 3),
      "q_tpch_q3" -> q3(L, "BUILDING", d("1998-03-15")),
      "q_tpch_q4" -> q4(L, d("1997-01-01"), months = 6, lateDays = 60),
      "q_tpch_q5" -> q5(L, regionKey = 2, year = 1996),
      "q_tpch_q6" -> q6(L, 1997, discCenter = 0.06, qtyCut = 24),
      "q_tpch_q7" -> q7(L, regA = 2, regB = 3, startYear = 1996),
      "q_tpch_q8" -> q8(L, "PROMO", nationKey = 3, custRegion = 2,
                        startYear = 1996),
      "q_tpch_q9" -> q9(L, "gear"),
      "q_tpch_q10" -> q10(L, d("1997-01-01")),
      "q_tpch_q11" -> q11(L, regionKey = 2, mult = 2.0),
      "q_tpch_q12" -> q12(L, cut1 = 30, cut2 = 90),
      "q_tpch_q13" -> q13(L, "5-LOW"),
      "q_tpch_q14" -> q14(L, d("1997-03-01")),
      "q_tpch_q15" -> q15(L, d("1997-01-01")),
      "q_tpch_q16" -> q16(L, "Brand#45", "PROMO",
                          Seq(1, 3, 9, 14, 19, 23, 36, 45), balCut = 0.0),
      "q_tpch_q17" -> q17(L, "Brand#23", "MEDIUM", frac = 0.2),
      "q_tpch_q18" -> q18(L, qtyThresh = 300),
      "q_tpch_q19" -> q19(L, Seq("Brand#12", "Brand#23", "Brand#34"),
                          Seq(1, 10, 20)),
      "q_tpch_q20" -> q20(L, "SMALL", mult = 4.0),
      "q_tpch_q21" -> q21(L, lateDays = 90, status = "F"),
      "q_tpch_q22" -> q22(L, Seq(1, 3, 5, 7, 9, 11, 13), d("1999-01-01")))
  }
}
