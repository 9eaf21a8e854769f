package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.CorpusRefresh
import graft.io.Sinks

/** Incremental corpus refresh over persisted screening state: the
  * refresh must gate/screen exactly per its stage contracts, must NEVER
  * re-read warehouse text for screening (pinned behaviorally: tampering
  * the table between establish and refresh cannot change the outcome —
  * the fingerprint store and signature index are the only standing
  * inputs), and a full replay of the same batch must be a no-op beyond
  * reproducing its own survivors.
  */
class CorpusRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again"
  private val clone6 =
    "warehouse resident text that matches a batch clone exactly"
  private val fresh7 = "completely fresh batch content about spark plans"

  private def warehouse: DataFrame = Seq(
    (2L, base + " and once more for good measure"),
    (4L, "another distinct even document with plenty of its own words"),
    (6L, clone6)
  ).toDF("doc_id", "text")

  // 1: below the token floor; 3: exact clone of warehouse 6 (novelty
  // gate); 5: near-dup of warehouse 2 (cross-corpus screen); 7/9:
  // intra-batch near-dups (election keeps min id 7); 11: clean survivor
  private def batch: DataFrame = Seq(
    (1L, "tiny doc"),
    (3L, clone6),
    (5L, base + " and once more for good measures"),
    (7L, fresh7),
    (9L, fresh7 + "s"),
    (11L, "a standalone clean novel document with sufficient tokens")
  ).toDF("doc_id", "text")

  private val (n, k, bands, tau, minTok) = (4, 16, 8, 0.5, 3)

  private def establish(root: String): Unit = {
    Sinks.dropTable(spark, root)
    CorpusRefresh.establish(warehouse, "doc_id", "text",
                            s"$root/table", s"$root/mh", n, k, bands)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).as[Long].collect().toSet

  test("refresh gates, elects, screens and commits exactly the " +
       "survivors") {
    val root = s"${Sinks.scratchRoot}/spec_refresh"
    establish(root)
    val surv = CorpusRefresh.refresh(batch, "doc_id", "text",
                                     s"$root/table", s"$root/mh",
                                     tau, minTok)
    assert(ids(surv) === Set(7L, 11L))
    assert(ids(spark.read.parquet(s"$root/table")) ===
      Set(2L, 4L, 6L, 7L, 11L))
    // screening state grew by exactly the survivors: the next batch
    // screens against this one too
    assert(spark.read.parquet(s"$root/mh/sets").select("id")
      .as[Long].collect().toSet === Set(2L, 4L, 6L, 7L, 11L))
    assert(spark.read.parquet(s"$root/mh/fps").select("id")
      .as[Long].collect().toSet === Set(2L, 4L, 6L, 7L, 11L))
  }

  test("screening rides the persisted state only: tampering warehouse " +
       "text between establish and refresh changes nothing") {
    val root = s"${Sinks.scratchRoot}/spec_refresh_tamper"
    establish(root)
    // corrupt every table row's text in place (rows collected first —
    // parquet cannot be overwritten while read). If refresh re-read
    // table text for screening, clone 3 would pass the novelty gate
    // and near-dup 5 would pass the cross-corpus screen.
    val tampered = spark.read.parquet(s"$root/table")
      .select(col("doc_id"), concat(lit("zz "), col("doc_id")).as("text"))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(tampered.toIndexedSeq),
        spark.read.parquet(s"$root/table").schema)
      .write.mode("overwrite").parquet(s"$root/table")
    Sinks.invalidate(spark, s"$root/table")
    val surv = CorpusRefresh.refresh(batch, "doc_id", "text",
                                     s"$root/table", s"$root/mh",
                                     tau, minTok)
    assert(ids(surv) === Set(7L, 11L))
  }

  test("refreshStream: micro-batch epochs equal sequential batch " +
       "refreshes, including the second batch screening against the " +
       "first's survivors") {
    val root = s"${Sinks.scratchRoot}/spec_refresh_stream"
    establish(root)
    val twin = s"${Sinks.scratchRoot}/spec_refresh_stream_twin"
    establish(twin)
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    // batch 1 = the standard fixture; batch 2 = a near-dup of batch 1's
    // survivor 7 (must be flagged against the GROWN corpus) + a clean doc
    val b2 = Seq(
      (13L, fresh7 + "es"),
      (15L, "a second wave document that is entirely its own thing")
    ).toDF("doc_id", "text")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(batch.schema).parquet(inDir)
      val q = CorpusRefresh.refreshStream(stream, "doc_id", "text",
        s"$root/table", s"$root/mh", tau, minTok, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    batch.coalesce(1).write.mode("append").parquet(inDir); runOnce()
    b2.coalesce(1).write.mode("append").parquet(inDir); runOnce()
    // sequential twin
    CorpusRefresh.refresh(batch, "doc_id", "text", s"$twin/table",
                          s"$twin/mh", tau, minTok)
    CorpusRefresh.refresh(b2, "doc_id", "text", s"$twin/table",
                          s"$twin/mh", tau, minTok)
    assert(ids(spark.read.parquet(s"$root/table")) ===
      ids(spark.read.parquet(s"$twin/table")))
    // 13 is a near-dup of 7 (which entered the corpus in epoch 0) — the
    // second epoch must screen against the grown corpus, not day-0's
    assert(ids(spark.read.parquet(s"$root/table")) ===
      Set(2L, 4L, 6L, 7L, 11L, 15L))
  }

  test("replaying the same batch reproduces the survivors and leaves " +
       "table and stores unchanged") {
    val root = s"${Sinks.scratchRoot}/spec_refresh_replay"
    establish(root)
    def run() = CorpusRefresh.refresh(batch, "doc_id", "text",
                                      s"$root/table", s"$root/mh",
                                      tau, minTok)
    assert(ids(run()) === Set(7L, 11L))
    val table1 = spark.read.parquet(s"$root/table")
      .orderBy("doc_id").collect().toSeq
    val sets1 = spark.read.parquet(s"$root/mh/sets").count()
    val buckets1 = spark.read.parquet(s"$root/mh/buckets").count()
    val fps1 = spark.read.parquet(s"$root/mh/fps").count()
    assert(ids(run()) === Set(7L, 11L))
    assert(spark.read.parquet(s"$root/table")
      .orderBy("doc_id").collect().toSeq === table1)
    assert(spark.read.parquet(s"$root/mh/sets").count() === sets1)
    assert(spark.read.parquet(s"$root/mh/buckets").count() === buckets1)
    assert(spark.read.parquet(s"$root/mh/fps").count() === fps1)
  }

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The logical plans of every CacheManager entry. The entry list has
    * no public accessor, so it is read reflectively (test-only).
    */
  private def cachedPlans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.execution.{CacheManager, CachedData}
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(spark.sharedState.cacheManager)
      .asInstanceOf[IndexedSeq[CachedData]].map(_.plan)
  }

  /** True when `plan` scans a file path under `root`. */
  private def reads(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                    root: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val under = new org.apache.hadoop.fs.Path(root).toUri.getPath
    plan.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toUri.getPath.startsWith(under))
        case _ => false
      }
      case _ => false
    }
  }

  test("refresh holds nothing once released: after CacheScope release " +
       "and after a refreshStream epoch, persistent RDDs and the cache " +
       "are as before (checkpoint blocks included)") {
    val root = s"${Sinks.scratchRoot}/spec_refresh_release"
    establish(root)
    spark.catalog.clearCache()
    val before = persistentRdds
    val (surv, release) = CacheScope.capture {
      CorpusRefresh.refresh(batch, "doc_id", "text", s"$root/table",
                            s"$root/mh", tau, minTok)
    }
    assert(ids(surv) === Set(7L, 11L))
    assert(persistentRdds.size > before.size, "refresh should hold blocks")
    release()
    assert(persistentRdds === before, "release() must free every block " +
      "refresh holds, the gate and flagged checkpoints included")
    assert(spark.sharedState.cacheManager.isEmpty)

    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    Seq((21L, "one more stream epoch document with enough tokens here"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q = CorpusRefresh.refreshStream(
      spark.readStream.schema(batch.schema).parquet(inDir), "doc_id",
      "text", s"$root/table", s"$root/mh", tau, minTok, ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(ids(spark.read.parquet(s"$root/table")) ===
      Set(2L, 4L, 6L, 7L, 11L, 21L))
    assert(persistentRdds === before, "a refreshStream epoch must free " +
      "every block it held")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("when the commits start, no cache refresh holds reads the index " +
       "root: the store invalidations find nothing of refresh's to " +
       "clear and re-plan") {
    val root = s"${Sinks.scratchRoot}/spec_refresh_frozen"
    establish(root)
    spark.catalog.clearCache()
    // checked on return, before release: past the commit start refresh
    // adds only mergeByKey's pin over the survivors (gate and flagged
    // checkpoints, election pin) and drops only the batch-only shingle
    // and postings pins, so what reads the index root now is what read
    // it when the commits started
    val (surv, release) = CacheScope.capture {
      CorpusRefresh.refresh(batch, "doc_id", "text", s"$root/table",
                            s"$root/mh", tau, minTok)
    }
    try {
      assert(ids(surv) === Set(7L, 11L))
      val plans = cachedPlans
      assert(plans.nonEmpty, "refresh should hold caches until release")
      val stale = plans.filter(reads(_, s"$root/mh"))
      assert(stale.isEmpty, s"${stale.size} cache(s) held by refresh " +
        s"read the index root:\n${stale.mkString("\n")}")
    } finally release()
  }
}
