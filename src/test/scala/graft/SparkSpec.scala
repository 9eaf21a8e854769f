package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite: the `graft.Session` factory's
  * session at a small width (4 cores, 4 shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts. */
  def jobsStartedBy(body: => Unit): Int = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the sentinel job's start has
      // arrived, every job the body started has been counted
      sc.setJobGroup("sentinel", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains("sentinel"), "listener bus never drained")
      started.size - 1
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(cpus = 4)
    // the suites provoke errors on purpose; keep their WARN noise out
    // of the test log
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
