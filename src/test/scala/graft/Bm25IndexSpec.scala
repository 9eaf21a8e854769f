package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.text.{Bm25Index, TextOps}

/** Persisted BM25 inverted index: serving off the store must equal the
  * from-scratch `bm25TopK` pass bit-for-bit across any build/append
  * history, appends must be retry-safe, uncommitted (crashed) epochs
  * invisible, and the probe's term filter must reach the postings scan
  * as a PARTITION filter.
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "spark shuffles the stream of rows"),
    (2L, "a vector index serves the vector probe"),
    (3L, "stream processing with spark and spark again"),
    (4L, "nothing relevant in this document at all"),
    (5L, "vector stream spark vector stream"),
    (6L, "   "), // zero tokens: excluded from N/avgdl on both paths
    (7L, "the quick brown fox likes spark")
  ).toDF("doc_id", "text")

  private val terms = Seq("spark", "vector", "stream")

  private def asPairs(df: DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  test("probe ≡ bm25TopK bit-for-bit, build-only and across appends") {
    val root = s"${Sinks.scratchRoot}/spec_bm25idx"
    Sinks.dropTable(spark, root)
    val expected = asPairs(TextOps.bm25TopK(docs, terms, k = 5))
    Bm25Index.build(docs, root, buckets = 4)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === expected)
    // same corpus arriving as three epochs serves identically: the
    // additive (n, sum_dl) stats are exact, df re-derives per probe
    val root2 = s"${Sinks.scratchRoot}/spec_bm25idx_3ep"
    Sinks.dropTable(spark, root2)
    Bm25Index.build(docs.filter($"doc_id" <= 2), root2, buckets = 4)
    Bm25Index.append(docs.filter($"doc_id" > 2 && $"doc_id" <= 5), root2)
    Bm25Index.append(docs.filter($"doc_id" > 5), root2)
    assert(asPairs(Bm25Index.probe(spark, root2, terms, k = 5))
             === expected)
  }

  test("replayed append is an exact no-op; crashed epoch is invisible " +
       "and its number is never reused") {
    val root = s"${Sinks.scratchRoot}/spec_bm25idx_retry"
    Sinks.dropTable(spark, root)
    Bm25Index.build(docs.filter($"doc_id" <= 4), root, buckets = 4)
    val batch = docs.filter($"doc_id" > 4)
    Bm25Index.append(batch, root)
    val served = asPairs(Bm25Index.probe(spark, root, terms, k = 5))
    val nPost = spark.read.parquet(s"$root/postings").count()
    // re-delivery: the id anti-join leaves nothing fresh -> no new
    // epoch, no new postings, identical serving
    Bm25Index.append(batch, root)
    assert(spark.read.parquet(s"$root/postings").count() === nPost)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5)) === served)
    // crash simulation: append then delete the commit marker — the
    // epoch's files exist but no probe may see them
    Bm25Index.append(docs.filter($"doc_id" === 7)
                       .withColumn("doc_id", lit(99L)), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/commits"))
      .map(_.getPath.getName.toInt).sorted
    val crashed = epochs.max
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/commits/$crashed"),
              false)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5)) === served)
    // the orphan's number is burned: re-appending lands in a NEW epoch
    // (doc 99 is invisible to the anti-join, so it inserts again) and
    // serving now equals the from-scratch pass over the full corpus
    val all = docs.unionByName(
      docs.filter($"doc_id" === 7).withColumn("doc_id", lit(99L)))
    Bm25Index.append(all, root)
    val committedNow = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$root/commits"))
      .map(_.getPath.getName.toInt)
    assert(!committedNow.contains(crashed) &&
             committedNow.max > crashed)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === asPairs(TextOps.bm25TopK(all, terms, k = 5)))
  }

  test("forget: tombstoned serving ≡ bm25TopK over the live corpus " +
       "bit-for-bit; re-forget no-op; compaction squashes + clears") {
    val root = s"${Sinks.scratchRoot}/spec_bm25idx_forget"
    Sinks.dropTable(spark, root)
    Bm25Index.build(docs.filter($"doc_id" <= 4), root, buckets = 4)
    Bm25Index.append(docs.filter($"doc_id" > 4), root)
    val goners = Seq(3L, 5L).toDF("doc_id")
    Bm25Index.forget(goners, root)
    val live = docs.filter(!$"doc_id".isin(3L, 5L))
    val expected = asPairs(TextOps.bm25TopK(live, terms, k = 5))
    // the exact contract: not just masked ids — N/avgdl/df all serve
    // as if the docs never existed (dl-carrying tombstones)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === expected)
    // double forget must not double-subtract the stats
    Bm25Index.forget(goners, root)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === expected)
    // a tombstoned id cannot re-enter until compaction (its physical
    // postings still trip the append anti-join)
    Bm25Index.append(docs.filter($"doc_id" === 3), root)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === expected)
    // physical erasure: single epoch, no tombstones, same serving
    Bm25Index.compactIndex(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/tombstones")))
    assert(spark.read.parquet(s"$root/postings")
             .filter(col("doc_id").isin(3L, 5L)).count() === 0L)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5))
             === expected)
    // post-compaction the ids may return
    Bm25Index.append(docs.filter($"doc_id" === 3), root)
    assert(asPairs(Bm25Index.probe(spark, root, terms, k = 5)) ===
             asPairs(TextOps.bm25TopK(
               docs.filter($"doc_id" =!= 5), terms, k = 5)))
  }

  test("batchProbe: per-query results ≡ one probe per query, " +
       "tombstones respected") {
    val root = s"${Sinks.scratchRoot}/spec_bm25idx_batch"
    Sinks.dropTable(spark, root)
    Bm25Index.build(docs, root, buckets = 4)
    val qs = Seq(1 -> Seq("spark", "stream"), 2 -> Seq("vector"),
                 3 -> terms)
    val qdf = qs.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    def check(): Unit = {
      val got = Bm25Index.batchProbe(qdf, root, k = 3)
        .as[(Int, Long, Double, Int)].collect()
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq
        }
      qs.foreach { case (q, ts) =>
        assert(got(q) === asPairs(Bm25Index.probe(spark, root, ts, k = 3)),
               s"query $q diverged from its solo probe")
      }
    }
    check()
    Bm25Index.forget(Seq(5L).toDF("doc_id"), root)
    check() // solo probe and batch probe see the same live corpus
  }

  test("probe prunes postings partitions on tb and epoch") {
    val root = s"${Sinks.scratchRoot}/spec_bm25idx_prune"
    Sinks.dropTable(spark, root)
    Bm25Index.build(docs, root, buckets = 4)
    val plan = Bm25Index.probe(spark, root, Seq("spark"), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
           s"tb should prune partitions:\n$plan")
  }
}
