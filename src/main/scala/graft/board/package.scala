package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Sinks

package object board {

  private[board] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Scratch dir for sink round-trip queries, keyed so concurrent sf runs
    * don't collide.
    */
  private[board] def scratch(dir: String, q: String): String =
    s"${Sinks.scratchRoot}/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$q"
}
