package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.io.Sinks
import graft.similarity.SimilarityOps
import graft.text.TextOps

/** Specs for the round-3 curation additions: benchmark decontamination,
  * TF-IDF keyword extraction. (Cluster election is covered by
  * ConnectedComponentsSpec; all three also carry DuckDB oracles.)
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contamination flags only docs quoting a benchmark n-gram") {
    val corpus = Seq(
      (1L, "aaaaaaaaaaaa and then some unrelated tail"), // quotes bench
      (2L, "totally different content here xyzzy"),
      (3L, "prefix aaaaaaaaaaaa suffix aaaaaaaaaaaa")    // same gram twice
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "zz aaaaaaaaaaaa zz")).toDF("doc_id", "text")
    val got = DedupOps.contamination(corpus, bench, "doc_id", "text",
                                     n = 12)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // doc 3 contains the 12-gram 'aaaaaaaaaaaa' at two positions but it
    // is ONE distinct gram; bench windows around it ('z aaaaaaaaaa…')
    // don't occur in the corpus docs
    assert(got.map(_._1) === Seq(1L, 3L))
    assert(got.forall(_._2 >= 1L))
  }

  test("contamination: empty benchmark or short docs → no flags") {
    val corpus = Seq((1L, "some document text here")).toDF("doc_id", "text")
    val benchEmpty = corpus.filter(lit(false))
    assert(DedupOps.contamination(corpus, benchEmpty, "doc_id", "text",
                                  n = 12).count() === 0)
    val benchShort = Seq((2L, "tiny")).toDF("doc_id", "text") // < n chars
    assert(DedupOps.contamination(corpus, benchShort, "doc_id", "text",
                                  n = 12).count() === 0)
  }

  test("contaminationStream batch twin is set-equal to contamination") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val batch = DedupOps.contamination(corpus, bench, "doc_id", "text",
                                       n = 30)
      .as[(Long, Long)].collect().toSet
    val twin = DedupOps.contaminationStream(corpus, bench, "doc_id",
                                            "text", n = 30)
      .as[(Long, Long)].collect().toSet
    assert(twin === batch)
    assert(batch.nonEmpty) // the planted cross-source near-dups flag
  }

  test("contaminationStream flags on a real stream, statelessly") {
    val dir = s"${Sinks.scratchRoot}/contam_stream"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated content with no overlap at all here")
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val bench = Seq(
      (9L, "xx the quick brown fox jumps over the lazy dog xx"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = DedupOps.contaminationStream(stream, bench, "doc_id", "text",
                                         n = 20)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("contam_test")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) >= 1L)
  }

  test("quantizeInt8: codes in [-127,127], reconstruction bounded, " +
       "degenerate vectors null") {
    val emb = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f)), // all-zero → null scale/codes, not Inf/NaN
      (3L, Seq.empty[Float]) // empty → null
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizeInt8(emb, "vec_id", "embedding")
      .orderBy("vec_id")
      .as[(Long, Option[Double], Option[Seq[Int]])].collect()
    val (_, Some(scale), Some(q)) = got(0)
    assert(scale === 127.0) // max abs = 1.0
    assert(q === Seq(64, -127, 32)) // floor(x·127 + .5)
    assert(q.forall(c => c >= -127 && c <= 127))
    // reconstruction error ≤ 0.5/scale per element
    Seq(0.5, -1.0, 0.25).zip(q).foreach { case (x, c) =>
      assert(math.abs(x - c / scale) <= 0.5 / scale + 1e-12)
    }
    assert(got(1)._2.isEmpty && got(1)._3.isEmpty)
    assert(got(2)._2.isEmpty && got(2)._3.isEmpty)
  }

  test("tfidf ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2 rare2"),
      (3L, "common filler words")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .orderBy("doc_id")
      .as[(Long, String, Double)].collect().toSeq
    // 'common' has df=3 → idf=ln(1)=0; the doc-unique terms win
    assert(got.map(r => (r._1, r._2)) ===
      Seq((1L, "rare1"), (2L, "rare2"), (3L, "filler")))
    // doc 2: tf=2, idf=ln(3/1) → 2·1.098612…
    assert(math.abs(got(1)._3 - 2.197225) < 1e-6)
  }

  test("mixSample: rate 0 removes, rate 1 keeps, coin is content-stable") {
    val docs = (1 to 200).map(i => (i.toLong, s"document number $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val kept = TextOps.mixSample(docs, "source",
                                 Map("src0" -> 0.0, "src1" -> 1.0))
    val bySource = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(!bySource.contains("src0"))
    assert(bySource("src1") === 100L)
    // determinism: same content → same decision on re-evaluation
    val again = TextOps.mixSample(docs, "source",
                                  Map("src0" -> 0.0, "src1" -> 1.0))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ===
      again.select("doc_id").as[Long].collect().sorted.toSeq)
    // a 50% rate keeps a plausible fraction (md5 coin, 200 docs)
    val half = TextOps.mixSample(docs, "source", Map(), defaultRate = 0.5)
      .count()
    assert(half > 60 && half < 140)
  }

  test("packChunks: bins contiguous, overflow ≤ one chunk, per-key reset") {
    val chunks = Seq(
      // key a: tokens 60+60+60 → budget 100: starts at 0,60,120 → bins 0,0,1
      ("a", 1L, 0L, 60L), ("a", 1L, 1L, 60L), ("a", 2L, 0L, 60L),
      // key b: independent numbering restarts at bin 0
      ("b", 3L, 0L, 40L), ("b", 3L, 1L, 80L)
    ).toDF("lang", "doc_id", "chunk_idx", "chunk_tokens")
    val got = TextOps.packChunks(chunks, "lang",
                                 Seq("doc_id", "chunk_idx"),
                                 "chunk_tokens", budget = 100)
      .select($"lang", $"doc_id", $"chunk_idx", $"bin")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("a", 1L, 0L, 0L), ("a", 1L, 1L, 0L), ("a", 2L, 0L, 1L),
      ("b", 3L, 0L, 0L), ("b", 3L, 1L, 0L)))
  }

  test("stratifiedSample: exactly k per group, deterministic, group-limit plan") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sizes = docs.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    val got = TextOps.stratifiedSample(docs, "source", "doc_id", k = 7)
      .select($"source", $"doc_id").as[(String, Long)].collect()
    val perGroup = got.groupBy(_._1).view.mapValues(_.length).toMap
    // exactly k, or the whole group when it is smaller
    assert(perGroup === sizes.map { case (s, n) => s -> math.min(7L, n).toInt })
    // deterministic: identical selection on a second run
    val again = TextOps.stratifiedSample(docs, "source", "doc_id", k = 7)
      .select($"source", $"doc_id").as[(String, Long)].collect()
    assert(got.toSet === again.toSet)
    // rank <= k on the raw row_number: the partial group-limit must
    // bound map output before the exchange
    val plan = TextOps.stratifiedSample(docs, "source", "doc_id", k = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("tfidf k bounds output per doc with deterministic term tie-break") {
    val docs = Seq((1L, "b a c b a c")).toDF("doc_id", "text")
    // all three terms tie on (tf=2, df=1) → rounded score ties → term asc
    val got = TextOps.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._2) === Seq("a", "b"))
  }

  test("pmiCollocations: a planted always-together pair tops the list " +
       "with hand-computed PMI; independent pairs score 0") {
    // 10 docs; 'zig zag' co-occur in exactly 6; 'the' in all 10.
    // PMI(zig,zag) = ln(6·10/(6·6)) = ln(5/3); PMI(the,zig) = ln(1) = 0.
    val docs = (0 until 10).map { i =>
      val extra = if (i < 6) " zig zag" else " solo"
      (i.toLong, "the filler" + extra)
    }.toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, minPairCount = 5, k = 3)
      .as[(String, String, Long, Double)].collect()
    val top = got.head
    assert((top._1, top._2, top._3) === (("zag", "zig", 6L)))
    assert(math.abs(top._4 - math.log(10.0 / 6.0)) < 1e-6)
    // 'the' pairs with zig/zag at pmi 0 (independent given df 10)
    got.filter(r => r._1 == "the" || r._2 == "the").foreach { r =>
      assert(r._4 === 0.0, s"independent pair should score 0: $r")
    }
  }

  test("weightedSample equals the driver-side A-ES key race; heavy " +
       "weights dominate inclusion") {
    import java.security.MessageDigest
    val docs = (1L to 400L)
      .map(i => (i, if (i <= 4) 1000000L else 1L))
      .toDF("doc_id", "w")
    val got = TextOps.weightedSample(docs, k = 50, idCol = "doc_id",
                                     weightCol = "w", seed = "3")
      .as[(Long, Double, Double)].collect()
    // driver-side truth: identical key formula
    def key(id: Long, w: Double): Double = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"3|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4503599627370496.0
      math.rint(math.pow(u, 1.0 / w) * 1e9) / 1e9
    }
    val want = (1L to 400L)
      .map(i => (i, if (i <= 4) 1e6 else 1.0))
      .map { case (i, w) => (i, w, key(i, w)) }
      .sortBy { case (i, _, s) => (-s, i) }.take(50)
    assert(got.toSeq.sortBy(r => (-r._3, r._1)) === want)
    // the four heavy docs (weight 1e6 vs 1) must all be sampled: each
    // key is u^1e-6 ≈ 1 while light keys are uniform on (0,1)
    assert((1L to 4L).forall(i => got.exists(_._1 == i)))
    // determinism + seed sensitivity
    val again = TextOps.weightedSample(docs, k = 50, idCol = "doc_id",
                                       weightCol = "w", seed = "3")
      .as[(Long, Double, Double)].collect()
    assert(again.toSet === got.toSet)
    val other = TextOps.weightedSample(docs, k = 50, idCol = "doc_id",
                                       weightCol = "w", seed = "4")
      .as[(Long, Double, Double)].collect()
    assert(other.map(_._1).toSet !== got.map(_._1).toSet)
  }

  test("weightedSample: k > n returns every positive-weight row; null " +
       "and non-positive weights are excluded; plan is a bounded top-k") {
    val docs = Seq((1L, Some(5L)), (2L, Some(0L)), (3L, None),
                   (4L, Some(-2L)), (5L, Some(7L)))
      .toDF("doc_id", "w")
    val got = TextOps.weightedSample(docs, k = 100, idCol = "doc_id",
                                     weightCol = "w", seed = "0")
    assert(got.select("doc_id").as[Long].collect().toSet === Set(1L, 5L))
    // bounded top-k, never a global sort (k < n so the limit survives
    // optimization — EliminateLimits folds a k ≥ maxRows limit away)
    val big = (1L to 200L).map(i => (i, i)).toDF("doc_id", "w")
    val plan = TextOps.weightedSample(big, k = 10, idCol = "doc_id",
                                      weightCol = "w", seed = "0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // production mode is a valid (different) deterministic selection
    val prod = TextOps.weightedSample(docs, k = 100, idCol = "doc_id",
      weightCol = "w", seed = "0", mode = graft.text.Hashing.Production)
    assert(prod.select("doc_id").as[Long].collect().toSet === Set(1L, 5L))
  }
}
