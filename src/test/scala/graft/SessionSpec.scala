package graft

import org.apache.spark.sql.SparkSession

/** `graft.Session.local` is the one place the graft conf is set, and the
  * suites' session is one of its sessions.
  */
class SessionSpec extends SparkSpec {

  test("SparkSpec.session is a factory session: the graft conf at cpus = 4") {
    assert(spark eq SparkSpec.session)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get(Tables.NanosConf) === "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    // a static conf only a builder sets (Spark's default is 100)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "8192")
    // graft's SQL functions resolve without a registerAll call
    assert(!spark.sql("SELECT simhash64(array('a', 'b'))").head().isNullAt(0))
  }

  test("a fresh factory session resolves graft SQL functions") {
    // a new session on the shared SparkContext starts from an empty
    // function registry; the factory must register graft's functions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = Session.local(cpus = 4)
      assert(!(fresh eq spark), "expected a new session, not the shared one")
      val q = "SELECT simhash64(array('a', 'b'))"
      assert(fresh.sql(q).head().getLong(0) === spark.sql(q).head().getLong(0))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
      spark.sparkContext.setLogLevel("ERROR") // as SparkSpec.session
    }
  }
}
