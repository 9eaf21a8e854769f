package graft.tools

import scala.util.Random

import graft.{SparkSpec, Tables}

/** The fuzzer's crafted-row corpora and its draws, checked without
  * running a Spark job: each `Crafted` record describes its fixture
  * table, a seed reproduces its cases, and every perturbed oracle reads
  * exactly one `p<table>` CTE holding all of that table's crafted rows.
  */
class FuzzSpec extends SparkSpec {

  private def draw(seed: Long, perFamily: Int): Seq[Fuzz.FuzzCase] = {
    val fams = Fuzz.resolveFamilies("all")
    val r = new Random(seed)
    (0 until perFamily * fams.size).map(i => fams(i % fams.size)._2(r, i))
  }

  /** The number of top-level `( … )` tuples in a VALUES list. */
  private def tuples(values: String): Int = {
    var depth, n = 0
    var quoted = false
    values.foreach {
      case '\'' => quoted = !quoted
      case '(' if !quoted => if (depth == 0) n += 1; depth += 1
      case ')' if !quoted => depth -= 1
      case _ =>
    }
    n
  }

  test("each crafted table has its fixture table's columns and types") {
    assert(Fuzz.crafted.map(_.table) === Seq("documents", "events",
      "lineitem", "orders", "customer", "supplier", "part", "embeddings"))
    Fuzz.crafted.foreach { c =>
      val fixture = Tables.load(spark, sfDir, c.table).schema
      assert(c.schema.map(f => f.name -> f.dataType) ===
               fixture.map(f => f.name -> f.dataType), c.table)
      // every row has one value per column, of the column's type (the
      // local frame converts its rows when it is built)
      assert(c.rows.forall(_.size == c.schema.size), c.table)
      assert(c.frame(spark).columns.toSeq === c.schema.fieldNames.toSeq)
    }
  }

  test("one seed draws the same cases twice") {
    def cases = draw(seed = 20260L, perFamily = 2)
      .map(c => (c.name, c.params, c.sql))
    val first = cases
    assert(first.size === 90)
    assert(first.map(_._1).distinct.size === first.size)
    assert(first === cases)
  }

  test("a perturbed oracle has one CTE per perturbed table, all its rows") {
    val cases = draw(seed = 1L, perFamily = 10)
    val seen = Fuzz.crafted.map { c =>
      val head = s"p${c.table} AS (SELECT * FROM ${c.table} UNION ALL\n" +
        "  SELECT * FROM (VALUES "
      val tail = s")\n    v(${c.schema.fieldNames.mkString(", ")}))"
      val hits = cases.filter(_.sql.contains(head))
      hits.foreach { k =>
        assert(k.sql.split(java.util.regex.Pattern.quote(head), -1).length
                 === 2, s"${k.name}: two ${c.table} CTEs")
        val values = k.sql.substring(k.sql.indexOf(head) + head.length)
        assert(values.contains(tail), s"${k.name}: ${c.table} column list")
        assert(tuples(values.substring(0, values.indexOf(tail))) ===
                 c.rows.size, s"${k.name}: ${c.table} VALUES rows")
      }
      c.table -> hits.size
    }
    assert(seen.forall(_._2 > 0), s"a table never perturbed: $seen")
    // the params say a case is perturbed exactly when its oracle is
    val perturbed = "pert[EO]?=(?!false|none)".r
    cases.foreach { k =>
      assert(perturbed.findFirstIn(k.params).isDefined ===
               k.sql.contains(" UNION ALL\n  SELECT * FROM (VALUES "),
             s"${k.name}: ${k.params}")
    }
  }
}
