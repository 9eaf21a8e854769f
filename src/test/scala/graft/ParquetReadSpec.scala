package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.dedup.{CorpusRefresh, MinhashIndex}
import graft.io.Sinks
import graft.ops.SketchOps
import graft.similarity.SimilarityOps
import graft.text.Bm25Index

/** `Tables.read` takes the schema from one footer on the driver instead
  * of Spark's inference job: for every on-disk shape the engine writes
  * it must return what `spark.read.parquet` returns (schema and rows),
  * start no Spark job, and leave the error cases to Spark.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def sameAsSpark(path: String): Unit = {
    val mine = Tables.read(spark, path)
    val inferred = spark.read.parquet(path)
    assert(mine.schema === inferred.schema, s"schema differs at $path")
    assert(mine.exceptAll(inferred).isEmpty &&
             inferred.exceptAll(mine).isEmpty, s"rows differ at $path")
  }

  private val docs: DataFrame = Seq(
    (1L, "spark shuffles the stream of rows into sorted runs"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy dog again and agai"),
    (4L, "a vector index serves the vector probe from its lists"),
    (5L, "stream processing with spark and spark again today")
  ).toDF("doc_id", "text")

  test("testdata tables read as Spark reads them; events ts converts") {
    Tables.all.foreach(t => sameAsSpark(s"$sfDir/$t.parquet"))
    assert(Tables.load(spark, sfDir, "events").schema("ts").dataType ===
             TimestampType)
  }

  test("sinks: day= partitions, versions, staged swaps") {
    val root = s"${Sinks.scratchRoot}/spec_pread_sinks"
    Sinks.dropTable(spark, root)
    val days = Seq((1L, "2024-01-01"), (2L, "2024-01-02"),
                   (3L, "2024-01-02")).toDF("id", "d")
      .select(col("id"), to_date(col("d")).as("day"))
    Sinks.upsertPartition(days, "day", s"$root/up")
    sameAsSpark(s"$root/up")
    assert(Tables.read(spark, s"$root/up").schema("day").dataType ===
             DateType)
    Sinks.compactPartitions(spark, s"$root/up", "day")
    sameAsSpark(s"$root/up")
    Sinks.mergeByKey(days.limit(1), Seq("id"), s"$root/kv")
    Sinks.mergeByKey(days, Seq("id"), s"$root/kv")
    sameAsSpark(s"$root/kv")
    val v = Sinks.versionedWrite(days, s"$root/ver")
    sameAsSpark(s"$root/ver/v=$v")
    Sinks.dropTable(spark, root)
  }

  test("MinHash, corpus-refresh and BM25 stores, before and after " +
       "compaction") {
    val root = s"${Sinks.scratchRoot}/spec_pread_stores"
    Sinks.dropTable(spark, root)
    val mh = s"$root/mh"
    CorpusRefresh.establish(docs.filter($"doc_id" <= 3), "doc_id", "text",
                            s"$root/table", mh, n = 4, k = 16, bands = 8)
    MinhashIndex.append(docs.filter($"doc_id" > 3), "doc_id", "text", mh)
    MinhashIndex.forget(Seq(4L).toDF("doc_id"), "doc_id", mh)
    val mhParts = Seq("params", "sets", "fps", "tombstones", "buckets")
    (s"$root/table" +: mhParts.map(p => s"$mh/$p")).foreach(sameAsSpark)
    MinhashIndex.compactIndex(spark, mh)
    Seq("params", "sets", "buckets").foreach(p => sameAsSpark(s"$mh/$p"))

    val bm = s"$root/bm25"
    Bm25Index.build(docs.filter($"doc_id" <= 2), bm, buckets = 4)
    Bm25Index.append(docs.filter($"doc_id" > 2), bm)
    Bm25Index.forget(Seq(1L).toDF("doc_id"), bm)
    Seq("params", "postings", "tombstones", "stats/epoch=1",
        "stats/epoch=2").foreach(p => sameAsSpark(s"$bm/$p"))
    Bm25Index.compactIndex(spark, bm)
    Seq("params", "postings").foreach(p => sameAsSpark(s"$bm/$p"))
    Sinks.dropTable(spark, root)
  }

  test("IVF and IVF-PQ indexes, and the sketch tables") {
    val root = s"${Sinks.scratchRoot}/spec_pread_ann"
    Sinks.dropTable(spark, root)
    val emb = (0L until 48L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == i % 4) 1.0f else 0.01f * (i % 7)))
    }.toDF("vec_id", "embedding")
    val cents = SimilarityOps.ivfTrain(emb, "vec_id", "embedding",
                                       nlist = 3, iters = 2)
    SimilarityOps.saveIndex(
      SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents),
      cents, s"$root/ivf")
    Seq("lists", "codebook").foreach(p => sameAsSpark(s"$root/ivf/$p"))
    // an index without the `meta/` marker still reads as raw
    assert(!SimilarityOps.indexIsResidual(spark, s"$root/ivf"))
    val pqCb = SimilarityOps.pqTrain(emb, "vec_id", "embedding",
                                     nsub = 2, codes = 4, iters = 2)
    SimilarityOps.saveIndexPq(
      SimilarityOps.ivfPqBuild(emb, "vec_id", "embedding", cents, pqCb),
      cents, pqCb, s"$root/pq")
    Seq("lists", "codebook", "pq_codebook", "meta")
      .foreach(p => sameAsSpark(s"$root/pq/$p"))

    val ev = Tables.load(spark, sfDir, "events")
    SketchOps.appendDailyValueSketches(spark, s"$root/vs",
      ev.filter(dayofmonth(col("ts")) <= 15), "b1")
    SketchOps.appendDailyValueSketches(spark, s"$root/vs",
      ev.filter(dayofmonth(col("ts")) > 15), "b2")
    Seq("applied", "data").foreach(p => sameAsSpark(s"$root/vs/$p"))
    SketchOps.appendDailySketches(spark, s"$root/hll", ev)
    sameAsSpark(s"$root/hll")
    Sinks.dropTable(spark, root)
    spark.catalog.clearCache()
  }

  test("Tables.read starts no Spark job") {
    val root = s"${Sinks.scratchRoot}/spec_pread_jobs"
    Sinks.dropTable(spark, root)
    Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "band")
      .write.partitionBy("band").parquet(s"$root/buckets")
    val n = QueryMetrics.measure(spark) {
      Tables.all.foreach(t => Tables.load(spark, sfDir, t))
      Tables.read(spark, s"$root/buckets")
    }._2.jobs
    assert(n === 0, s"Tables.read started $n Spark job(s)")
    Sinks.dropTable(spark, root)
  }

  test("missing and empty paths fail as spark.read.parquet fails") {
    val base = java.nio.file.Files.createTempDirectory("pread").toString
    val empty = s"$base/empty"
    new java.io.File(empty).mkdirs()
    Seq(s"$base/missing", empty).foreach { p =>
      val mine = intercept[AnalysisException](Tables.read(spark, p))
      val inferred = intercept[AnalysisException](spark.read.parquet(p))
      assert(mine.getCondition === inferred.getCondition, p)
    }
  }
}
