package graft

import org.apache.spark.sql.functions._

import graft.functions.StringDistance
import graft.ops.FuzzyMatch

class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._

  test("jaroWinkler pins the classic values (DuckDB-identical)") {
    // values cross-checked against DuckDB 1.x jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.961111),
      ("dixon", "dicksonx", 0.813333),
      ("DWAYNE", "DUANE", 0.84),
      ("jellyfish", "smellyfish", 0.896296),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("a", "b", 0.0),
      // shared prefix BELOW the 0.7 jaro threshold: boost must NOT apply
      ("abcdefgh", "abzzzzzz", 0.5)
    )
    cases.foreach { case (a, b, want) =>
      val got = BigDecimal(StringDistance.jaroWinklerSim(a, b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got === want, s"jw($a, $b)")
      // symmetric
      val rev = BigDecimal(StringDistance.jaroWinklerSim(b, a))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rev === want, s"jw($b, $a)")
    }
  }

  test("the native expression: null-in/null-out, SQL-registered") {
    val df = Seq(
      (1L, "martha", "marhta"),
      (2L, null.asInstanceOf[String], "x"),
      (3L, "x", null.asInstanceOf[String])
    ).toDF("id", "a", "b")
    val got = df.select($"id",
        round(StringDistance.jaroWinkler($"a", $"b"), 6).as("jw"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === Some(0.961111))
    assert(got(2L) === None)
    assert(got(3L) === None)
    // SQL surface
    val sql = spark.sql(
      "SELECT round(jaro_winkler('martha', 'marhta'), 6)").head.getDouble(0)
    assert(sql === 0.961111)
  }

  test("fuzzyPairs: blocked verify, cross-block pairs never compared") {
    val df = Seq(
      "cold widget", "old widget",   // same block, jw 0.969697
      "cold widgit",                 // same block? 'widgit' != 'widget'
      "old anvil",                   // different block
      "cold widget"                  // duplicate row: distinct collapses
    ).toDF("name")
    val got = FuzzyMatch.fuzzyPairs(df, "name", tau = 0.8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    // within-block match found with the pinned score
    assert(got.contains(("cold widget", "old widget", 0.969697)))
    // "cold widgit" blocks under 'widgit' — NEVER compared to the
    // widget block even though jw("cold widget","cold widgit") would
    // clear any threshold: blocking is the documented recall dial
    assert(!got.exists(p => p._1 == "cold widgit" || p._2 == "cold widgit"))
    // no self pairs, no cross-block anvil pairs
    assert(got.size === 1)
  }

  test("editPairs: length-key candidates are lossless, bound respected") {
    val df = Seq(
      "kitten", "sitten", "sittin",  // dist 1 chains
      "kit",                          // len diff 3 from kitten: pruned
      "mitten"                        // dist 1 from kitten/sitten
    ).toDF("name")
    val got = FuzzyMatch.editPairs(df, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val expected = Set(
      ("kitten", "sitten", 1L), ("kitten", "mitten", 1L),
      ("sitten", "sittin", 1L), ("kitten", "sittin", 2L),
      ("mitten", "sitten", 1L), ("mitten", "sittin", 2L))
    assert(got === expected)
    // no pair with a name whose length differs by more than maxDist
    // from any partner is even a candidate: 'kit' appears nowhere
    assert(!got.exists(p => p._1 == "kit" || p._2 == "kit"))
    // each pair reported exactly once (one length key per true pair)
    val undirected = got.map(p => Set(p._1, p._2))
    assert(undirected.size === got.size)
  }
}
