package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, lit}

import graft.dedup.DedupOps
import graft.pipeline.CorpusPipeline
import graft.streaming.StreamingOps

/** Degenerate-input behavior: empty frames, single rows, and documents
  * too short to shingle must flow through every composite operator
  * without errors and with the semantically-right (empty) output.
  * These are the inputs a 100 TB pipeline hits constantly at partition
  * granularity (empty partitions, one-doc groups, short documents).
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  private val emptyDocs = docs()

  private def containment(d: org.apache.spark.sql.DataFrame, tau: Double) =
    DedupOps.containmentPairsFromSets(
      DedupOps.hashedSets(d, "doc_id", "text", 12), tau)

  test("corpus curate: empty input → empty output, correct schema") {
    val out = CorpusPipeline.curate(emptyDocs)
    assert(out.count() === 0)
    assert(out.columns.toSeq ===
      Seq("doc_id", "lang", "n_tokens", "quality_score", "fingerprint"))
  }

  test("near-dup joins: empty and single-doc inputs produce no pairs") {
    assert(DedupOps.ngramJaccardPairs(emptyDocs, "doc_id", "text",
                                      n = 12, tau = 0.7).count() === 0)
    val single = docs((1L, "a reasonable english sentence here", "en"))
    assert(DedupOps.ngramJaccardPairs(single, "doc_id", "text",
                                      n = 12, tau = 0.7).count() === 0)
    assert(DedupOps.minhashLshPairs(single, "doc_id", "text",
                                    n = 12, k = 32, bands = 8,
                                    tau = 0.7).count() === 0)
  }

  test("docs shorter than n (empty shingle sets) never pair — even with " +
       "many of them") {
    // r1 ADVICE: empty-set docs all minhash to identical MaxValue
    // signatures and used to collide in every LSH band; the sz>0 filter
    // must keep them out of banding entirely
    val shorts = docs((1L, "tiny", "en"), (2L, "wee", "en"),
                      (3L, "small", "en"), (4L, "x", "en"))
    assert(DedupOps.ngramJaccardPairs(shorts, "doc_id", "text",
                                      n = 12, tau = 0.7).count() === 0)
    assert(DedupOps.minhashLshPairs(shorts, "doc_id", "text",
                                    n = 12, k = 32, bands = 8,
                                    tau = 0.7).count() === 0)
    // identical short docs dedup exactly (exact path is unaffected)
    val dupShorts = docs((1L, "tiny", "en"), (2L, "tiny", "en"))
    assert(CorpusPipeline.curate(dupShorts, minTokens = 0).count() === 1)
  }

  test("interval join and sessionize: empty and single-event inputs") {
    val empty = Seq.empty[(Long, Timestamp)].toDF("event_id", "ts")
    assert(StreamingOps.intervalJoin(empty, "event_id", "ts",
                                     60000L).count() === 0)
    val one = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "ts")
    assert(StreamingOps.intervalJoin(one, "event_id", "ts",
                                     60000L).count() === 0)
    val emptyUsers = Seq.empty[(Long, Timestamp)].toDF("user_id", "ts")
    assert(graft.streaming.Sessionize.batch(emptyUsers, 30).count() === 0)
  }

  test("containment joins and removeContained: empty / single / " +
       "too-short-to-shingle inputs flow through") {
    assert(containment(emptyDocs, 0.9).count() === 0)
    val single = docs((1L, "a reasonable english sentence here", "en"))
    assert(containment(single, 0.9).count() === 0)
    val short = docs((1L, "tiny", "en"), (2L, "also tiny", "en"))
    assert(containment(short, 0.5).count() === 0)
    // the ACTION keeps every doc when nothing pairs — including the
    // un-shingleable ones
    assert(DedupOps.removeContained(short, "doc_id", "text",
                                    n = 12, tau = 0.5).count() === 2)
    assert(DedupOps.removeContained(emptyDocs, "doc_id", "text")
             .count() === 0)
  }

  test("event analytics ops: empty event streams produce the " +
       "semantically-right degenerate output") {
    import graft.ops.{Funnel, Scd2, TimeSeries}
    val empty = Seq.empty[(Long, Long, String, Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    // funnel: every step row present with n_users = 0
    val f = Funnel.funnel(empty, Seq("view", "click"))
      .as[(Int, String, Long, Option[Double])].collect().toSet
    assert(f.map(r => (r._1, r._3)) === Set((1, 0L), (2, 0L)))
    // scd2 / rolling / active users: empty
    assert(Scd2.scd2(empty, Seq("user_id"), Seq("value"), "ts",
                     "event_id").count() === 0)
    assert(TimeSeries.rollingAgg(empty, "event_id", "user_id", "ts",
                                 "value", 24).count() === 0)
    assert(TimeSeries.activeUsers(empty).count() === 0)
    // linear attribution: only the (empty) direct row
    val la = Funnel.linearAttribution(empty, 72,
                                      channelCol = col("event_type"))
      .as[(String, Long, Option[Double])].collect().toSeq
    assert(la === Seq(("direct", 0L, None)))
  }

  test("corpus audits and sampling ops on empty inputs") {
    import graft.text.TextOps
    val emptySrc = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(TextOps.corpusDiff(emptySrc, emptySrc).count() === 0)
    assert(TextOps.crossSourceDup(emptySrc).count() === 0)
    // one-sided diff: everything added / everything removed
    val one = Seq((1L, "hello world", "s1")).toDF("doc_id", "text", "source")
    val added = TextOps.corpusDiff(emptySrc, one)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(added === Seq(("s1", "added", 1L, 11L)))
    val removed = TextOps.corpusDiff(one, emptySrc)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(removed === Seq(("s1", "removed", 1L, -11L)))
    assert(TextOps.weightedSample(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_chars"), k = 5)
        .count() === 0)
    assert(TextOps.curriculumOrder(emptySrc.withColumn("n_chars", lit(1L)))
             .count() === 0)
    assert(graft.similarity.SimilarityOps.marginMine(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, tau = 1.0).count() === 0)
  }

  test("bag-semantics set ops: multiset arithmetic, not row identity") {
    // A={1,1,1,2}, B={1,2,2}: EXCEPT ALL -> {1,1} (max(nA-nB,0) copies),
    // INTERSECT ALL -> {1,2} (min counts) — the DISTINCT forms would
    // give {} and {1,2} and lose the multiplicities
    val a = Seq(1L, 1L, 1L, 2L).toDF("k")
    val b = Seq(1L, 2L, 2L).toDF("k")
    assert(a.exceptAll(b).as[Long].collect().sorted.toSeq === Seq(1L, 1L))
    assert(a.intersectAll(b).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L))
  }
}
