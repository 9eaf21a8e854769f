package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.CoreOps
import graft.quality.Quality

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("spreadSmallScan floors parallelism of a narrow frame, identically") {
    val p = spark.sparkContext.defaultParallelism
    val df = Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1) // the single-row-group-scan shape
    val spread = CoreOps.spreadSmallScan(df, col("id"))
    assert(spread.rdd.getNumPartitions === p,
      "a 1-partition frame must be spread to the session parallelism")
    // same rows, exactly — the spread is routing only
    assert(spread.except(df).isEmpty && df.except(spread).isEmpty)
  }

  test("spreadSmallScan is a no-op (no added exchange) at/above parallelism") {
    val p = spark.sparkContext.defaultParallelism
    // a local relation of 64 rows already plans min(64, p) partitions
    val df = Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("id", "v")
    assert(df.rdd.getNumPartitions >= p)
    val spread = CoreOps.spreadSmallScan(df, col("id"))
    // the SAME plan object comes back: the gate adds nothing at scale
    assert(spread eq df,
      "an already-parallel frame must pass through unchanged")
  }

  test("spreadSmallScan runs no job on a shuffled small frame") {
    // the gate-3 `.rdd` probe under AQE executes any exchange below it;
    // a shuffling repartition must therefore decline at gate 1
    val small = Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(2)
    val n = QueryMetrics.measure(spark)(
      CoreOps.spreadSmallScan(small, col("id")))._2.jobs
    assert(n === 0, s"spreadSmallScan started $n Spark job(s)")
  }

  test("dropNulls drops rows with any null (P1)") {
    val df = Seq(
      (Some(1), Some("a")), (None, Some("b")), (Some(3), None)
    ).toDF("x", "y")
    assert(CoreOps.dropNulls(df).count() === 1)
    assert(CoreOps.dropNulls(df, Seq("x")).count() === 2)
  }

  test("dedupFullRow is idempotent and equals distinct (D1)") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2), ("a", 1)).toDF("k", "v")
    val d1 = CoreOps.dedupFullRow(df)
    assert(d1.count() === 2)
    assert(CoreOps.dedupFullRow(d1).count() === 2)
    assert(d1.except(df.distinct()).isEmpty)
  }

  test("deriveMonth extracts calendar month (P2)") {
    val df = Seq(ts("2024-03-15 10:00:00"), ts("2024-12-01 00:00:00"))
      .toDF("t")
    val got = CoreOps.deriveMonth(df, "t").select("pickup_month")
      .as[Int].collect().sorted
    assert(got.toSeq === Seq(3, 12))
  }

  test("timeBucket boundaries are 7-9 and 17-19 inclusive (C1, code wins)") {
    val hours = Seq(6, 7, 9, 10, 16, 17, 19, 20)
    val df = hours.map(h => ts(f"2024-01-01 $h%02d:30:00")).toDF("t")
    val got = CoreOps.timeBucket(df, "t")
      .select(hour($"t"), $"time_bucket").as[(Int, String)]
      .collect().toMap
    assert(got(6) === "Other"); assert(got(7) === "Morning Rush")
    assert(got(9) === "Morning Rush"); assert(got(10) === "Other")
    assert(got(16) === "Other"); assert(got(17) === "Evening Rush")
    assert(got(19) === "Evening Rush"); assert(got(20) === "Other")
  }

  test("rename / constant / drop / trim (P4-P7)") {
    val df = Seq(("x", 1)).toDF(" Sponsoring Organization ", "v")
    val trimmed = CoreOps.trimHeaders(df)
    assert(trimmed.columns.toSeq === Seq("Sponsoring Organization", "v"))
    val renamed = CoreOps.renameColumn(trimmed,
      "Sponsoring Organization", "sponsoring_organization")
    assert(renamed.columns.contains("sponsoring_organization"))
    val withConst = CoreOps.constantColumn(renamed, "date", "2025-08-29")
    assert(withConst.select("date").as[String].head() === "2025-08-29")
    assert(!CoreOps.dropColumns(withConst, "v").columns.contains("v"))
  }

  test("filterEq keeps only matching rows (P3)") {
    val df = Seq(("generic", 1), ("country-code", 2), ("generic", 3))
      .toDF("type", "v")
    assert(CoreOps.filterEq(df, "type", "generic").count() === 2)
  }

  test("nullViolationCount and nullMatrix (P8/A2/A3)") {
    val df = Seq(
      (Some(1), Some("a")), (None, Some("b")), (None, None)
    ).toDF("x", "y")
    val v = CoreOps.nullViolationCount(df, Seq("x", "y")).as[Long].head()
    assert(v === 2L)
    val m = CoreOps.nullMatrix(df).head()
    assert(m.getLong(0) === 2L) // nulls_x
    assert(m.getLong(1) === 1L) // nulls_y
  }

  test("profile: one row per column, exact nulls/distinct/min/max") {
    val df = Seq(
      (Some(1L), Some("b"), Some(2.5)),
      (Some(3L), None,      Some(0.5)),
      (None,     Some("a"), Some(2.5))
    ).toDF("id", "s", "v")
    val p = CoreOps.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(p.keySet === Set("id", "s", "v"))
    assert(p("id") === ((3L, 1L, 2L, "1", "3")))
    assert(p("s")  === ((3L, 1L, 2L, "a", "b")))
    // stats computed natively THEN cast: min is 0.5, not lexicographic
    assert(p("v")  === ((3L, 0L, 2L, "0.5", "2.5")))
    // empty input: zero counts, null min/max — never a crash
    val e = CoreOps.profile(df.filter(lit(false)), Seq("id"))
      .collect()
    assert(e.length === 1)
    assert(e(0).getLong(1) === 0L && e(0).getLong(3) === 0L)
    assert(e(0).isNullAt(4) && e(0).isNullAt(5))
    intercept[IllegalArgumentException] {
      CoreOps.profile(df, Seq("nope"))
    }
  }

  test("winsorize: exact bounds, clip audit columns, null semantics") {
    val df = (0 to 10).map(i => ("a", Some(i.toDouble))) ++
      Seq(("a", None),                    // null value: stays null
          (null.asInstanceOf[String], Some(5.0)), // null group: real group
          ("b", None))                    // all-null group: no bounds
    val out = CoreOps.winsorize(df.toDF("g", "v"), "v", "g", 0.1, 0.9)
    val a = out.filter($"g" === "a")
      .select($"v", $"v_w", $"v_lo", $"v_hi")
      .as[(Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect()
    // (n-1)*p = 10*0.1 = 1 exactly: bounds are data points 1.0 and 9.0
    assert(a.forall(r => r._3 === Some(1.0) && r._4 === Some(9.0)))
    assert(a.collect { case (Some(0.0), w, _, _) => w }.head === Some(1.0))
    assert(a.collect { case (Some(10.0), w, _, _) => w }.head === Some(9.0))
    assert(a.collect { case (Some(5.0), w, _, _) => w }.head === Some(5.0))
    assert(a.collect { case (None, w, _, _) => w }.head === None)
    // single-row null group: its own bounds, value unmoved
    val ng = out.filter($"g".isNull && $"v".isNotNull)
      .select($"v_w", $"v_lo").as[(Option[Double], Option[Double])].head()
    assert(ng === ((Some(5.0), Some(5.0))))
    // all-null group: null bounds, row survives unclipped
    val b = out.filter($"g" === "b")
      .select($"v_w", $"v_lo").as[(Option[Double], Option[Double])].head()
    assert(b === ((None, None)))
    assert(out.count() === df.size.toLong)
  }

  test("quality gates return Left on violation (§5)") {
    val ok = Seq((1, "a")).toDF("x", "y")
    val empty = ok.filter(lit(false))
    assert(Quality.requireNonEmpty(ok).isRight)
    assert(Quality.requireNonEmpty(empty).isLeft)
    val withNull = Seq((Some(1), "a"), (None, "b")).toDF("x", "y")
    assert(Quality.requireNoNulls(withNull, Seq("x")).isLeft)
    assert(Quality.requireNoNulls(withNull, Seq("y")).isRight)
    assert(Quality.nullCensus(withNull) === Map("x" -> 1L, "y" -> 0L))
    // empty table: all-zero census, never an NPE (sum over 0 rows is NULL)
    assert(Quality.nullCensus(empty) === Map("x" -> 0L, "y" -> 0L))
  }

  test("snapshotDiff: add/remove/change matrix, null-safe keys, " +
       "schema-ordered changed_cols") {
    val old = Seq(
      (Some(1), Some("a"), Some(10)),  // unchanged
      (Some(2), Some("b"), Some(20)),  // payload edit -> changed
      (Some(3), Some("c"), Some(30)),  // removed
      (Some(4), None, Some(40)),       // null -> value edit -> changed
      (None, Some("n"), Some(50))      // null KEY, edited -> changed
    ).toDF("k", "s", "v")
    val nw = Seq(
      (Some(1), Some("a"), Some(10)),
      (Some(2), Some("B"), Some(21)),  // both payload cols differ
      (Some(4), Some("d"), Some(40)),
      (None, Some("n"), Some(51)),
      (Some(9), Some("z"), Some(90))   // added
    ).toDF("k", "s", "v")
    val out = CoreOps.snapshotDiff(old, nw, Seq("k"))
      .as[(Option[Int], String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size === 5) // row 1 (unchanged) never surfaces
    assert(out(Some(2)) === (("changed", Some("s,v")))) // schema order
    assert(out(Some(3)) === (("removed", None)))
    assert(out(Some(4)) === (("changed", Some("s"))))
    // null key matched null-safely: ONE changed pair, not add+remove
    assert(out(None) === (("changed", Some("v"))))
    assert(out(Some(9)) === (("added", None)))
    // diverging schemas fail loudly, never silently compare by position
    intercept[IllegalArgumentException] {
      CoreOps.snapshotDiff(old, nw.select($"k", $"v", $"s"), Seq("k"))
    }
  }
}
