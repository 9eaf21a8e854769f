package graft.tools

import graft.{SparkEntry, Verify}

/** Dump `SparkEntry.oracleSql` as JSON without starting Spark — lets a
  * refactor of the oracle builders be diffed byte-for-byte against the
  * last driver-verified dump before any expensive verify run.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/oracle_dump.json"
    Verify.writeOracleSql(out, SparkEntry.oracleSql)
    println(s"[oracle-dump] ${SparkEntry.oracleSql.size} queries -> $out")
  }
}
