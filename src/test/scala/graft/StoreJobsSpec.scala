package graft

/** The store queries' job counts at sf0.001: a warm run (it establishes
  * the store on a fresh scratch root), then one run counted by
  * `QueryMetrics`, each after `Session.dropCaches`. The bands are the
  * counts of five fresh-scratch runs (PLANS.md "One job ledger"); a
  * change that adds a job to a reindex or a refresh replay leaves them.
  */
class StoreJobsSpec extends SparkSpec {

  private def jobs(q: String): Int = {
    val fn = SparkEntry.queries(q)
    Session.dropCaches(spark)
    fn(spark, sfDir).count()
    Session.dropCaches(spark)
    QueryMetrics.measure(spark)(fn(spark, sfDir).count())._2.jobs
  }

  test("q_reindex runs 22 jobs") {
    val n = jobs("q_reindex")
    assert(n === 22, s"q_reindex ran $n jobs")
  }

  test("a q_incremental_refresh replay runs 93 to 95 jobs") {
    // the commit's concurrent writes (`inParallel`) run 0-2 more AQE
    // query-stage jobs from run to run
    val n = jobs("q_incremental_refresh")
    assert(n >= 93 && n <= 95, s"q_incremental_refresh ran $n jobs")
  }
}
