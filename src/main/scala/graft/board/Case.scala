package graft.board

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query: its driver-contract name, the Spark builder over an
  * sf directory, and the DuckDB oracle twin beside it (`None` where the
  * output has no SQL identity; EntrySpec keeps that set closed).
  *
  * Each domain object (`Parity`, `Dedup`, `Text`, `Ann`, `Lifecycle`,
  * `Analytics`) holds a `lazy val cases` — lazy so a case may name the
  * helper vals declared below it — and `SparkEntry.cases` joins them with
  * the TPC-H draws. The parameterized `*Gen`/`*OracleGen` builders live
  * beside the cases that pin them; the Fuzz families sweep the same ones.
  */
final case class Case(name: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: Option[String])
