package graft

import org.apache.spark.sql.functions._

import graft.tools.Probe

class ProbeSpec extends SparkSpec {

  test("median is the middle sample, or the mean of the two middle ones") {
    assert(Probe.median(Seq(3.0)) === 3.0)
    assert(Probe.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    // even count: not the upper-middle sample (3.0)
    assert(Probe.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Probe.median(Seq(1.0, 10.0)) === 5.5)
  }

  test("ab mode takes the conf given twice as its arms") {
    val a = Probe.parse(Seq("ab", "--conf", "spark.x=1", "q_a",
      "--conf", "spark.k=A", "--conf", "spark.k=B"))
    assert(a.queries === Seq("q_a"))
    assert(a.arms === Seq("spark.k" -> "A", "spark.k" -> "B"))
    assert(a.confs.filterNot(a.arms.contains) === Seq("spark.x" -> "1"))
    val t = Probe.parse(Seq("time", "--conf", "spark.k=A=B", "q_a", "q_b"))
    assert(t.arms.isEmpty && t.confs === Seq("spark.k" -> "A=B"))
    assert(t.queries === Seq("q_a", "q_b"))
  }

  test("bad probe arguments fail with a usage error") {
    intercept[IllegalArgumentException](Probe.parse(Seq("nope", "q_a")))
    intercept[IllegalArgumentException](Probe.parse(Seq("time")))
    intercept[IllegalArgumentException](
      Probe.parse(Seq("ab", "--conf", "spark.k=A", "q_a")))
  }

  test("jobs lines name each job's call site, AQE stage jobs included") {
    val log = new Probe.RunLog
    spark.sparkContext.addSparkListener(log)
    try {
      // one aggregation under AQE: a shuffle-stage job (no call site of
      // its own) and the result job, both inside one SQL execution
      val n = jobsStartedBy {
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
          .collect()
      }
      assert(n >= 2, s"expected a stage job and a result job, got $n")
      val jobs = log.jobLines.filter(_.startsWith("job "))
        .filterNot(_.contains("SparkSpec.scala")) // the drain sentinel
      assert(jobs.size === n)
      jobs.foreach(l =>
        assert(l.matches(".* s  collect at ProbeSpec\\.scala:\\d+"),
               s"unattributed job line: $l"))
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
