package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.{Bloom, BloomExpressions}

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def buildFilter(hashes: Seq[Long], numBits: Long, k: Int) =
    hashes.toDF("h")
      .agg(BloomExpressions.bloomAgg($"h", numBits, k).as("w"))

  test("no false negatives: every inserted hash is contained") {
    val rnd = new scala.util.Random(11)
    val inserted = Seq.fill(2000)(rnd.nextLong()).distinct
    val bits = ((inserted.size * 10L + 63) / 64) * 64
    val withFilter = buildFilter(inserted, bits, 7)
    val hits = inserted.toDF("h")
      .agg(collect_list($"h").as("hs"))
      .crossJoin(withFilter)
      .select(BloomExpressions.bloomHitCount($"hs", $"w", 7))
      .as[Int].head()
    assert(hits === inserted.size)
  }

  test("false-positive rate stays near the design point") {
    val rnd = new scala.util.Random(13)
    val inserted = Seq.fill(4000)(rnd.nextLong()).distinct
    val insertedSet = inserted.toSet
    val probes = Seq.fill(20000)(rnd.nextLong())
      .filterNot(insertedSet.contains)
    val bits = ((inserted.size * 10L + 63) / 64) * 64
    val fp = probes.toDF("h")
      .agg(collect_list($"h").as("hs"))
      .crossJoin(buildFilter(inserted, bits, 7))
      .select(BloomExpressions.bloomHitCount($"hs", $"w", 7))
      .as[Int].head()
    // theoretical fpp at 10 bits/element, k=7 is ~0.8%; allow 3x slack
    assert(fp.toDouble / probes.size < 0.025,
           s"fpp ${fp.toDouble / probes.size} too high")
  }

  test("SQL registration matches the Column API bit-for-bit") {
    val df = (0L until 500L).map(i => i * 0x9e3779b97f4a7c15L).toDF("h")
    df.createOrReplaceTempView("bloom_in")
    val viaSql = spark.sql(
      "SELECT bloom_agg(h, 4096, 5) AS w FROM bloom_in")
      .as[Seq[Long]].head()
    val viaCol = df.agg(BloomExpressions.bloomAgg($"h", 4096L, 5).as("w"))
      .as[Seq[Long]].head()
    assert(viaSql === viaCol)
    val probeHits = spark.sql(
      """SELECT bloom_hit_count(hs, w, 5) FROM
        |  (SELECT collect_list(h) AS hs FROM bloom_in),
        |  (SELECT bloom_agg(h, 4096, 5) AS w FROM bloom_in)""".stripMargin)
      .as[Int].head()
    assert(probeHits === 500)
  }

  test("nullable filter array rejected at analysis; nullable hashes ok") {
    // Bloom.contains reads words.getLong(i) unchecked — a null slot would
    // silently read garbage, so the analyzer must refuse it outright
    val df = Seq((Seq(1L, 2L), Seq(Option(1L), None))).toDF("hs", "w")
    val ex = intercept[Exception] {
      df.select(BloomExpressions.bloomHitCount($"hs", $"w", 3)).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("without nulls"))
    // hashes-side nulls remain legal: skipped, not counted
    val inserted = Seq(5L, 6L)
    val hits = Seq((Seq(Option(5L), None, Option(99L)), 0))
      .toDF("hs", "ignore")
      .crossJoin(buildFilter(inserted, 4096, 5))
      .select(BloomExpressions.bloomHitCount($"hs", $"w", 5))
      .as[Int].head()
    assert(hits === 1)
  }

  test("static helper agrees with the expression path") {
    val words = new Array[Long](64)
    val hs = Seq(42L, -7L, Long.MaxValue, Long.MinValue, 0L)
    hs.foreach(h => Bloom.insert(words, h, 7))
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
    assert(hs.forall(h => Bloom.contains(ad, h, 7)))
  }

  test("contaminationScreened equals exact contamination on the bench " +
       "corpus and flags a planted quote") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter($"source" =!= "src0")
    val ref = docs.filter($"source" === "src0")
    val exact = DedupOps.contamination(corpus, ref, "doc_id", "text", n = 30)
      .as[(Long, Long)].collect().toSet
    val screened = DedupOps
      .contaminationScreened(corpus, ref, "doc_id", "text", n = 30)
      .as[(Long, Long)].collect().toSet
    assert(screened === exact)

    // planted: one corpus doc quotes 40 chars verbatim from the reference
    val quote = "Z".repeat(10) + "the exact benchmark answer is 42!"
    val corpus2 = Seq((900001L, s"prefix text $quote suffix"),
                      (900002L, "a completely unrelated document body"))
      .toDF("doc_id", "text")
    val ref2 = Seq((1L, s"eval item: $quote")).toDF("doc_id", "text")
    val flagged = DedupOps
      .contaminationScreened(corpus2, ref2, "doc_id", "text", n = 30)
      .select($"doc_id").as[Long].collect().toSeq
    assert(flagged === Seq(900001L))
  }

  test("sharded filter: no false negatives across shards (incl. negative " +
       "hashes), empty shards safe, SQL ≡ Column API") {
    val rnd = new scala.util.Random(17)
    // negative longs exercise the pmod shard selector; shards = 7 with
    // hashes drawn so at least one shard stays EMPTY (all ≡ 0 mod 7)
    val inserted = Seq.fill(600)(rnd.nextLong()).distinct
      .filter(h => ((h % 7) + 7) % 7 != 3)
    val hashedDf = inserted.toDF("sh")
    val fold = graft.dedup.DedupOps.bloomFold(
      hashedDf, "sh", inserted.size.toLong, bitsPerElem = 10, k = 5,
      shards = 7)
    val hits = inserted.toDF("h")
      .agg(collect_list($"h").as("hs"))
      .crossJoin(fold)
      .select(graft.functions.BloomExpressions
        .bloomHitCountSharded($"hs", $"__bloom", 5))
      .as[Int].head()
    assert(hits === inserted.size, "every inserted hash must be found")
    // probes landing in the empty shard are definitively clean
    val emptyShardProbes = Seq.fill(200)(rnd.nextLong())
      .map(h => h - (((h % 7) + 7) % 7) + 3) // force shard 3
    val fp = emptyShardProbes.toDF("h")
      .agg(collect_list($"h").as("hs"))
      .crossJoin(fold)
      .select(graft.functions.BloomExpressions
        .bloomHitCountSharded($"hs", $"__bloom", 5))
      .as[Int].head()
    assert(fp === 0, "an empty shard must report zero members")
    // SQL registration matches the Column API
    hashedDf.createOrReplaceTempView("shard_in")
    fold.createOrReplaceTempView("shard_fold")
    val viaSql = spark.sql(
      """SELECT bloom_hit_count_sharded(hs, __bloom, 5) FROM
        |  (SELECT collect_list(sh) AS hs FROM shard_in), shard_fold"""
        .stripMargin).as[Int].head()
    assert(viaSql === inserted.size)
  }

  test("contaminationScreened(shards = 4) ≡ exact ≡ unsharded") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter($"source" =!= "src0")
    val ref = docs.filter($"source" === "src0")
    val exact = DedupOps.contamination(corpus, ref, "doc_id", "text", n = 30)
      .as[(Long, Long)].collect().toSet
    val sharded = DedupOps.contaminationScreened(
        corpus, ref, "doc_id", "text", n = 30, shards = 4)
      .as[(Long, Long)].collect().toSet
    assert(sharded === exact)
    spark.catalog.clearCache()
  }

  test("empty reference set screens everything out") {
    val corpus = Seq((1L, "some document text that is long enough here"))
      .toDF("doc_id", "text")
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = DedupOps.contaminationScreened(corpus, ref, "doc_id", "text",
                                             n = 30)
    assert(got.isEmpty)
  }
}
