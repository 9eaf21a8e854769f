package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.tpch.TpchGen

/** Planted-data semantics pins for the TPC-H board entries — the
  * `TpchGen` builders that Fuzz sweeps and graftbench runs, at the
  * board's pinned parameters. Each case targets the part of a rewrite
  * that a green oracle run could mask at testdata scale (EXISTS-once
  * counting, outer-join zero groups, max ties, the EXISTS ∧ NOT-EXISTS
  * interaction, correlated-avg thresholds). Money columns are integer
  * cents. (The class keeps its name from the retired `TpchExt` board
  * copy, so its test ids match earlier test records.)
  */
class TpchExtSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")

  private val board = TpchGen.board.toMap

  /** Plant `tables` as parquet under a fresh dir and run board query `q`
    * on it.
    */
  private def planted(tables: Map[String, DataFrame], q: String): DataFrame = {
    val dir = Files.createTempDirectory(Paths.get("target"), "tpch").toString
    tables.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    board(q).run(spark, dir)
  }

  test("board: one list drives both driver views; no second definition") {
    val keys = TpchGen.board.map(_._1)
    assert(keys.size == 22 && keys.toSet.size == 22)
    assert(SparkEntry.queries.keySet.filter(_.startsWith("q_tpch_")) ==
             keys.toSet)
    val oracle = SparkEntry.oracleSql.filter(_._1.startsWith("q_tpch_"))
    assert(oracle.keySet == keys.toSet)
    oracle.foreach { case (k, sql) =>
      assert(sql == board(k).sql, s"$k oracle is not the board's sql")
    }
    // the names live in the board list only: a "q_tpch_ literal
    // anywhere else in the engine would be a second definition
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (f: Path) =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        "\"q_tpch_".r.findAllMatchIn(src).map(_ => f)
      }
    val outside =
      hits.filterNot(_.endsWith(Paths.get("graft/tpch/TpchGen.scala")))
    assert(outside.isEmpty, s"q_tpch_ literal outside TpchGen.board: " +
      outside.distinct.mkString(", "))
    assert(hits.size == 22, s"${hits.size} q_tpch_ literals, want the 22 " +
      "board entries")
  }

  test("q1: price and discount averages are exact per-row integer means") {
    val li = Seq(
      ("A", "F", 1.0, 10.00, 0.04, ts("1998-01-01")),
      ("A", "F", 2.0, 20.00, 0.05, ts("1998-06-01")),
      ("A", "F", 3.0, 20.02, 0.07, ts("1998-09-02")), // on the cutoff
      ("A", "F", 9.0, 999.99, 0.10, ts("1998-09-03")), // past it
      ("N", "O", 4.0, 0.10, 0.00, ts("1997-01-01"))
    ).toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
           "l_discount", "l_shipdate")
      .withColumn("l_tax", lit(0.0))
    val out = planted(Map("lineitem" -> li), "q_tpch_q1")
      .select("l_returnflag", "avg_price_cents", "avg_disc", "count_order")
      .as[(String, Double, Double, Long)].collect().toSet
    // (1000 + 2000 + 2002) / 3 cents; (4 + 5 + 7) / 3 / 100
    assert(out === Set(("A", 1667.333333, 0.053333, 3L),
                       ("N", 10.0, 0.0, 1L)))
  }

  test("q4: EXISTS counts an order once no matter how many late lines") {
    val orders = Seq(
      (1L, ts("1997-02-01"), "1-URGENT"), // two late lines -> one count
      (2L, ts("1997-02-01"), "2-HIGH"),   // on-time line -> not counted
      (3L, ts("1996-01-01"), "1-URGENT")  // late, but outside the window
    ).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Seq(
      (1L, ts("1997-04-10")), (1L, ts("1997-05-01")),
      (2L, ts("1997-03-01")),
      (3L, ts("1996-06-01"))
    ).toDF("l_orderkey", "l_shipdate")
    val out = planted(Map("orders" -> orders, "lineitem" -> li),
                      "q_tpch_q4")
      .as[(String, Long)].collect().toMap
    assert(out === Map("1-URGENT" -> 1L))
  }

  test("q13: customers whose only orders are excluded still appear at 0") {
    val cust = Seq(1L, 2L, 3L).toDF("c_custkey")
    val orders = Seq(
      (10L, 1L, "1-URGENT"), (11L, 1L, "3-MEDIUM"), // c1 -> 2
      (12L, 2L, "5-LOW")                            // c2 -> excluded -> 0
      // c3 has no orders at all -> 0
    ).toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val out = planted(Map("customer" -> cust, "orders" -> orders),
                      "q_tpch_q13")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(2L -> 1L, 0L -> 2L))
  }

  test("q15: revenue ties at the max return every winning supplier") {
    val li = Seq(
      (1L, ts("1997-02-01"), 100.0, 0.0),
      (2L, ts("1997-02-01"), 50.0, 0.0), (2L, ts("1997-03-01"), 50.0, 0.0),
      (3L, ts("1997-02-01"), 10.0, 0.0),
      (1L, ts("1998-02-01"), 999.0, 0.0) // outside the quarter
    ).toDF("l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val sup = Seq((1L, "S1"), (2L, "S2"), (3L, "S3"))
      .toDF("s_suppkey", "s_name")
    val out = planted(Map("lineitem" -> li, "supplier" -> sup),
                      "q_tpch_q15")
      .as[(Long, String, Long)].collect().toSet
    assert(out === Set((1L, "S1", 10000L), (2L, "S2", 10000L)))
  }

  test("q21: only the sole late supplier of a multi-supplier order waits") {
    val d = ts("1998-01-01")
    val late = ts("1998-05-01"); val ok = ts("1998-02-01")
    val orders = Seq(
      (1L, d, "F"), // S1 late, S2 on time -> S1 counted
      (2L, d, "F"), // S1 and S2 both late -> neither counted
      (3L, d, "F"), // S1 late, no other supplier -> EXISTS fails
      (4L, d, "O")  // S1 late, S2 on time, but order not 'F'
    ).toDF("o_orderkey", "o_orderdate", "o_orderstatus")
    val li = Seq(
      (1L, 1L, late), (1L, 2L, ok),
      (2L, 1L, late), (2L, 2L, late),
      (3L, 1L, late),
      (4L, 1L, late), (4L, 2L, ok)
    ).toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val sup = Seq((1L, "S1"), (2L, "S2")).toDF("s_suppkey", "s_name")
    val out = planted(
      Map("orders" -> orders, "lineitem" -> li, "supplier" -> sup),
      "q_tpch_q21")
      .as[(String, Long)].collect().toMap
    assert(out === Map("S1" -> 1L))
  }

  test("q17: the quantity cut is the per-part average, not a global one") {
    // P1: quantities 1,10,10,10 -> avg 7.75, cut 1.55 -> only the qty-1
    // line (price 70.0) qualifies. P2: high-avg part whose qty-2 line
    // would pass a global cut but fails its own part's cut of 0.2*26=5.2
    // -> qualifies; planted to prove the threshold is per-part: qty 2 <
    // 5.2 passes HERE but would fail P1's 1.55.
    val part = Seq(
      (1L, "Brand#23", "MEDIUM"), (2L, "Brand#23", "MEDIUM"),
      (3L, "Brand#11", "MEDIUM") // wrong brand -> excluded entirely
    ).toDF("p_partkey", "p_brand", "p_type")
    val li = Seq(
      (1L, 1.0, 70.0), (1L, 10.0, 1.0), (1L, 10.0, 1.0), (1L, 10.0, 1.0),
      (2L, 2.0, 140.0), (2L, 50.0, 1.0),
      (3L, 1.0, 9999.0)
    ).toDF("l_partkey", "l_quantity", "l_extendedprice")
    val out = planted(Map("part" -> part, "lineitem" -> li), "q_tpch_q17")
      .as[Long].collect()
    assert(out.toSeq === Seq(21000L)) // 70 + 140, in cents
  }

  test("q2: the min is over EUROPE suppliers only, and ties all win") {
    val region = Seq((0, "EUROPE"), (1, "ASIA")).toDF("r_regionkey", "r_name")
    val nation = Seq((10, "N_EU", 0), (11, "N_AS", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val sup = Seq(
      (1L, "S1", 500.0, 10), (2L, "S2", 400.0, 10), // EU
      (3L, "S3", 900.0, 11)                         // non-EU, cheapest
    ).toDF("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    val part = Seq((7L, 15, "LARGE"), (8L, 15, "SMALL"))
      .toDF("p_partkey", "p_size", "p_type")
    val li = Seq(
      (7L, 1L, 2.0, 20.0), (7L, 2L, 1.0, 10.0), // both unit cost 10
      (7L, 3L, 1.0, 5.0),                       // cheaper but non-EU
      (8L, 1L, 1.0, 1.0)                        // wrong p_type
    ).toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val out = planted(
      Map("region" -> region, "nation" -> nation, "supplier" -> sup,
          "part" -> part, "lineitem" -> li), "q_tpch_q2")
      .select("s_name", "supplycost")
      .as[(String, Double)].collect().toSet
    assert(out === Set(("S1", 10.0), ("S2", 10.0)))
  }

  test("q11: the mean-value cut comes from the region-pruned slice only") {
    val nation = Seq((7, 2), (8, 3)).toDF("n_nationkey", "n_regionkey")
    val sup = Seq((1L, 7), (2L, 8)).toDF("s_suppkey", "s_nationkey")
    val li = Seq(
      (100L, 1L, 1000.0), (101L, 1L, 100.0), (102L, 1L, 100.0),
      // ASIA slice: values 1000/100/100, mean 400, cut 800
      (103L, 2L, 50000.0) // other region: must not inflate the cut
    ).toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val out = planted(
      Map("nation" -> nation, "supplier" -> sup, "lineitem" -> li),
      "q_tpch_q11")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(100L -> 100000L))
  }

  test("q20: only suppliers above 4x fair share of some part qualify") {
    val part = Seq((1L, "SMALL"), (2L, "LARGE"))
      .toDF("p_partkey", "p_type")
    // part 1: five suppliers, A ships 20 of 24 -> 20 > 4*24/5 = 19.2
    val li = Seq(
      (1L, 1L, 20.0), (1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 4L, 1.0),
      (1L, 5L, 1.0),
      (2L, 2L, 999.0) // dominant on a non-SMALL part: ignored
    ).toDF("l_partkey", "l_suppkey", "l_quantity")
    val sup = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0),
                  (4L, "D", 40.0), (5L, "E", 50.0))
      .toDF("s_suppkey", "s_name", "s_acctbal")
    val out = planted(
      Map("part" -> part, "lineitem" -> li, "supplier" -> sup),
      "q_tpch_q20")
      .as[(String, Long)].collect().toSet
    assert(out === Set(("A", 1000L)))
  }

  test("q22: scalar cut from positive balances; recent orders disqualify") {
    val cust = Seq(
      (1L, 1, 100.0),  // above avg(pos)=70, dormant -> kept
      (2L, 1, 10.0),   // below the cut -> dropped
      (3L, 1, -50.0),  // negative: excluded from the avg AND below it
      (4L, 3, 100.0),  // above cut but has a recent order -> dropped
      (5L, 2, 900.0)   // nation not in the set -> ignored everywhere
    ).toDF("c_custkey", "c_nationkey", "c_acctbal")
    val orders = Seq((40L, 4L, ts("1999-06-01")), (10L, 1L, ts("1997-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val out = planted(Map("customer" -> cust, "orders" -> orders),
                      "q_tpch_q22")
      .as[(Int, Long, Long)].collect().toSet
    assert(out === Set((1, 1L, 10000L)))
  }
}
