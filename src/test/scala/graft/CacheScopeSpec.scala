package graft

import org.apache.spark.sql.functions._

import graft.pipeline.CorpusPipeline

class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away into the deep dark woods tonight while everyone is asleep inside", "en"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away into the deep dark woods tonight while everyone is asleep inside", "en"),
    (3L, "a completely different english document about databases and distributed systems covering partitioning shuffles joins and aggregation in detail", "en"),
    (4L, "yet another unrelated english text that discusses compilers optimizers register allocation and instruction scheduling at some length here", "en")
  ).toDF("doc_id", "text", "lang")

  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("capture releases exactly the operator's caches — curate twice " +
       "in one session leaves no stale RDDs") {
    spark.catalog.clearCache()
    for (_ <- 1 to 2) {
      val before = pinnedIds
      val (out, release) = CacheScope.capture {
        CorpusPipeline.curate(docsDf, "en", tau = 0.6, minTokens = 10)
      }
      assert(out.select($"doc_id").as[Long].collect().toSet
               === Set(1L, 3L, 4L))
      assert(pinnedIds.size > before.size,
             "curate should have pinned internal frames")
      release()
      assert(pinnedIds === before,
             "release() must drop every frame the capture registered")
    }
  }

  test("capture does not touch caches pinned OUTSIDE the scope") {
    spark.catalog.clearCache()
    val unrelated = Seq(1, 2, 3).toDF("x").cache()
    unrelated.count()
    val kept = pinnedIds
    assert(kept.nonEmpty)
    val (pairs, release) = CacheScope.capture {
      dedup.DedupOps.minhashLshPairs(docsDf, "doc_id", "text",
                                     n = 5, k = 32, bands = 8, tau = 0.8)
    }
    pairs.count()
    release()
    assert(pinnedIds === kept,
           "the session's own cached table must survive release()")
    unrelated.unpersist(true)
  }

  test("withScope releases on failure; no-scope register is a no-op " +
       "passthrough") {
    spark.catalog.clearCache()
    val before = pinnedIds
    intercept[RuntimeException] {
      CacheScope.withScope {
        val sets = dedup.DedupOps.hashedSets(docsDf, "doc_id", "text", 5)
        sets.count() // materialize the pin inside the scope
        sets
      } { _ => throw new RuntimeException("boom") }
    }
    assert(pinnedIds === before, "withScope must release on failure")
    // outside any scope the operators still pin (and clearCache releases)
    val sets = dedup.DedupOps.hashedSets(docsDf, "doc_id", "text", 5)
    sets.count()
    assert(pinnedIds.size > before.size)
    spark.catalog.clearCache()
  }

  test("checkpoint blocks are freed: a registered localCheckpoint on " +
       "release, and the store operators' own checkpoints on return") {
    import graft.dedup.MinhashIndex
    import graft.io.Sinks
    import graft.similarity.SimilarityOps
    import graft.text.Bm25Index
    spark.catalog.clearCache()
    val root = s"${Sinks.scratchRoot}/spec_scope_ckpt"
    Sinks.dropTable(spark, root)
    val before = pinnedIds

    // Dataset.unpersist alone leaves a checkpoint's RDD persisted
    val (_, release) = CacheScope.capture {
      CacheScope.register(docsDf.localCheckpoint(true))
    }
    assert(pinnedIds.size === before.size + 1)
    release()
    assert(pinnedIds === before, "release() must free checkpoint blocks")

    // MinhashIndex.ingest returns its registered, checkpointed pairs
    MinhashIndex.build(docsDf.filter($"doc_id" <= 2), "doc_id", "text",
                       s"$root/mh", n = 5, k = 32, bands = 8)
    val (pairs, releaseIngest) = CacheScope.capture {
      MinhashIndex.ingest(docsDf.filter($"doc_id" > 2), "doc_id", "text",
                          s"$root/mh", 0.8)
    }
    pairs.count()
    releaseIngest()
    assert(pinnedIds === before, "ingest must leave no blocks behind")

    // compactIndex and forgetFromIndex own their checkpoints outright
    Bm25Index.build(docsDf, s"$root/bm25", buckets = 4)
    Bm25Index.forget(Seq(2L).toDF("doc_id"), s"$root/bm25")
    spark.catalog.clearCache()
    val beforeCompact = pinnedIds
    Bm25Index.compactIndex(spark, s"$root/bm25")
    assert(pinnedIds === beforeCompact,
           "Bm25Index.compactIndex leaked blocks")
    val emb = (0L until 6L).map(i => (i, Seq(1.0 * (i % 2), 1.0 - i % 2)))
      .toDF("vec_id", "embedding")
    val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding",
                                            nlist = 2)
    SimilarityOps.saveIndex(
      SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents),
      cents, s"$root/ivf")
    spark.catalog.clearCache()
    val beforeForget = pinnedIds
    SimilarityOps.forgetFromIndex(Seq(1L).toDF("vec_id"), "vec_id",
                                  s"$root/ivf")
    assert(pinnedIds === beforeForget,
           "SimilarityOps.forgetFromIndex leaked blocks")
    Sinks.dropTable(spark, root)
  }
}
