package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite: the `graft.Session` factory's
  * session at a small width (4 cores, 4 shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
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
