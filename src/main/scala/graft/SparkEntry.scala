package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.board.{Analytics, Ann, Case, Dedup, Lifecycle, Parity, Text}
import graft.pipeline.TaxiPipeline
import graft.tpch.TpchGen

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extension ops), each with an ANSI/DuckDB
  * oracle twin in `oracleSql` where SQL-expressible. Both maps are views of
  * `cases`, one `graft.board.Case` per query with its oracle beside it.
  *
  * Conventions keeping the DuckDB hash-compare exact (SURVEY §7.4):
  *  - never output raw `events.ts` (parquet ns vs Spark µs truncation) —
  *    derive month/hour/bucket or format to a string instead;
  *  - aliases identical in Spark and SQL, all lowercase (DuckDB folds
  *    unquoted identifiers);
  *  - integer aggregates exact; floating aggregates wrapped in round(·, k)
  *    in BOTH engines to absorb summation-order ulps;
  *  - every query's output is a deterministic SET (no order-dependent
  *    nondeterminism, ties broken by keys).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TaxiPipeline.flagship(spark, "/root/testdata/sf0.001")

  /** Stamp the data files a micro-batch write just produced with an
    * explicit, strictly-increasing mtime (fixed base + one minute per
    * epoch). The file source sequences epochs by modification time, so
    * two back-to-back append writes landing inside one mtime
    * granularity tick could otherwise flip epoch order versus the
    * oracle's first-half-first assumption — a nondeterministic verify
    * flake (r9 advisor catch). `seen` accumulates already-stamped file
    * names across calls; call once after EACH epoch's write. Shared by
    * the streaming establish steps and the batch-boundary invariance
    * spec.
    */
  private[graft] def stampEpochOrder(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, epoch: Int,
      seen: scala.collection.mutable.Set[String]): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !seen.contains(name)) {
        fs.setTimes(st.getPath, 1700000000000L + epoch * 60000L, -1L)
        seen += name
      }
    }

  /** The whole board: the six domain lists plus the 22 TPC-H draws. */
  val cases: Seq[Case] = distinctNames(
    Parity.cases ++ Dedup.cases ++ Text.cases ++ Ann.cases ++
      Lifecycle.cases ++ Analytics.cases ++
      TpchGen.board.map { case (k, q) => Case(k, q.run, Some(q.sql)) })

  /** `cs` unchanged, or an error naming every name it holds twice — a map
    * built from it would silently keep only the last of each.
    */
  private[graft] def distinctNames(cs: Seq[Case]): Seq[Case] = {
    val dups = cs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate board names: ${dups.toSeq.sorted.mkString(", ")}")
    cs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.run).toMap

  /** DuckDB twins over the same parquet tables (driver resolves bare table
    * names). Aliases/casts mirror the Spark outputs exactly.
    */
  val oracleSql: Map[String, String] =
    cases.flatMap(c => c.oracle.map(c.name -> _)).toMap
}
