package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

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
    // one aggregation under AQE: a shuffle-stage job (no call site of
    // its own) and the result job, both inside one SQL execution
    val (_, m) = QueryMetrics.measure(spark) {
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
    }
    assert(m.jobs >= 2, s"expected a stage job and a result job, got ${m.jobs}")
    val jobs = m.jobLines.filter(_.startsWith("job "))
    assert(jobs.size === m.jobs)
    jobs.foreach(l =>
      assert(l.matches(".* s  collect at ProbeSpec\\.scala:\\d+"),
             s"unattributed job line: $l"))
  }

  test("drain starts no job: an empty body counts 0 jobs") {
    val (_, m) = QueryMetrics.measure(spark)(QueryMetrics.drain(spark))
    assert(m.jobs === 0)
    assert(m.jobLines.isEmpty)
  }

  test("every job of sequential actions is counted when the body returns") {
    // holds the shared listener bus for 2 s at the first action's end, so
    // the body returns with every count job's events still queued
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Thread.sleep(2000)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try {
      val n = 12
      val (_, m) = QueryMetrics.measure(spark) {
        spark.range(1).collect()
        (1 to n).foreach(i => spark.sparkContext.parallelize(1 to i, 2).count())
      }
      assert(m.jobLines.count(
        _.matches("job .* s  count at ProbeSpec\\.scala:\\d+")) === n)
    } finally spark.listenerManager.unregister(slow)
  }
}
