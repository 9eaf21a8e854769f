package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted INVERTED INDEX for BM25 serving — the ranked-retrieval
  * member of the persisted-index family (IVF/PQ for vectors,
  * `MinhashIndex` for near-dup signatures): pay the corpus tokenization
  * ONCE, keep term postings on disk bucketed by term hash, and answer
  * every future query by reading ONLY the probed terms' buckets —
  * never a corpus re-scan (`bm25TopK` re-tokenizes the corpus per
  * query; this is its amortized day-2 form, the Lucene/Elasticsearch
  * deployment shape reduced to parquet + partition pruning).
  *
  * Layout under `root`:
  *   - `params/`   one row (k1, b, buckets, id_col): scoring constants
  *     and the bucket geometry, FROZEN at build — postings bucketed
  *     under two geometries would silently miss terms, so the API makes
  *     the mix inexpressible (the `MinhashIndex.params` rule).
  *   - `postings/epoch=E/tb=H/` (doc_id, term, tf, dl) — the inverted
  *     lists, partitioned by `tb = pmod(xxhash64(term), buckets)`. A
  *     probe filters on tb ∈ {hash(query terms)}, so planning-time
  *     partition pruning reads a handful of bucket directories out of
  *     the whole store (the IVF-list idea applied to text). `dl` (doc
  *     token length) is denormalized into the postings so scoring
  *     never touches a corpus-sized side frame.
  *   - `stats/epoch=E/` one row (n, sum_dl): CUMULATIVE corpus stats
  *     as of epoch E. Both are sums of integers carried as doubles, so
  *     they are EXACT (no float drift until 2^53) and the served
  *     avgdl = sum_dl/n is bit-identical to a from-scratch pass no
  *     matter how many appends produced it.
  *   - `commits/E` marker files: an epoch exists when its marker does.
  *
  * Atomicity: an append writes its postings and stats snapshot under
  * NEW `epoch=E` directories, then commits with ONE marker create (the
  * `versionedWrite` idea spanning a multi-directory artifact). Readers
  * filter `epoch ∈ committed`, so a crash mid-append leaves orphan
  * directories that no probe ever sees, whose epoch number is never
  * reused. Re-delivered batches anti-join against committed doc ids
  * (one column scan — everything else prunes) and no-op. Single-writer
  * contract, like the whole maintenance family. Right-to-be-forgotten:
  * not duplicated here — `MinhashIndex.forget`'s tombstone + compaction
  * split applies verbatim to a postings store.
  *
  * Scoring is `bm25TopK`'s Lucene-variant math on the same 1e-6
  * rounding grid; tf/dl/df/n/avgdl are all exactly representable, so
  * probe(index) over ANY build/append history is bit-identical to
  * `bm25TopK` over the union corpus — the property the spec pins and
  * the q_bm25_index oracle certifies end-to-end.
  */
object Bm25Index {

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readParams(spark: SparkSession, root: String)
      : (Double, Double, Int, String, String) = {
    val r = Tables.read(spark, s"$root/params").head()
    (r.getAs[Double]("k1"), r.getAs[Double]("b"),
     r.getAs[Int]("buckets"), r.getAs[String]("id_col"),
     r.getAs[String]("text_col"))
  }

  private def committedEpochs(spark: SparkSession,
                              root: String): Seq[Int] = {
    val fs = fsFor(spark, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName.toIntOption).sorted
  }

  /** Next epoch number: above every committed AND orphan epoch — a
    * crashed append's number is never reused (the `versionedWrite`
    * rule), so its leftover files can never alias a live epoch.
    */
  private def nextEpoch(spark: SparkSession, root: String): Int = {
    val fs = fsFor(spark, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/postings")
    val orphansAndLive =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("epoch=")) n.drop(6).toIntOption else None
      }
    ((orphansAndLive ++ committedEpochs(spark, root)) :+ 0).max + 1
  }

  /** (doc_id, term, tf, dl) postings for one batch: one tokenize pass
    * feeds the (doc, term) tf aggregate; dl re-derives as Σtf per doc
    * (exact — both are integer counts), so zero-token docs simply have
    * no rows anywhere, matching `bm25TopK`'s corpus definition.
    */
  private def batchPostings(batch: DataFrame, idCol: String,
                            textCol: String, buckets: Int): DataFrame = {
    val tf = batch
      .select(col(idCol).as("doc_id"),
              explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
    tf.join(dl, "doc_id")
      .withColumn("tb",
        pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))
  }

  /** Write one epoch: postings + cumulative stats, then the marker.
    * Returns false (and writes nothing) when the batch holds no new
    * scoreable docs — the replay no-op.
    */
  private def appendEpoch(batch: DataFrame, idCol: String,
                          textCol: String, root: String): Boolean = {
    val spark = batch.sparkSession
    val (_, _, buckets, _, _) = readParams(spark, root)
    val committed = committedEpochs(spark, root)
    val fresh =
      if (committed.isEmpty) batch
      else batch.join(
        Tables.read(spark, s"$root/postings")
          .filter(col("epoch").isin(committed.map(Int.box): _*))
          .select(col("doc_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    val post = batchPostings(fresh, idCol, textCol, buckets)
      .transform(graft.CacheScope.pin)
    // one-row aggregate: the size-gated driver action (n/sum_dl are
    // exact integer-valued doubles — cross-epoch addition stays exact)
    val f = post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(coalesce(count(lit(1)).cast("double"), lit(0d)),
           coalesce(sum(col("dl")), lit(0d))).head()
    if (f.getDouble(0) == 0d) { post.unpersist(false); return false }
    val (pn, psum) =
      if (committed.isEmpty) (0d, 0d)
      else {
        val r = Tables.read(spark, s"$root/stats/epoch=${committed.max}")
          .head()
        (r.getAs[Double]("n"), r.getAs[Double]("sum_dl"))
      }
    val epoch = nextEpoch(spark, root)
    // one writer task per bucket directory (the lshBuckets rule):
    // without it every shuffle partition opens every bucket dir and the
    // epoch lands as buckets × partitions small files
    post.repartition(col("tb"))
      .write.partitionBy("tb").parquet(s"$root/postings/epoch=$epoch")
    import spark.implicits._
    Seq((pn + f.getDouble(0), psum + f.getDouble(1))).toDF("n", "sum_dl")
      .coalesce(1).write.parquet(s"$root/stats/epoch=$epoch")
    post.unpersist(false)
    val fs = fsFor(spark, root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/commits/$epoch"),
              false).close()
    graft.io.Sinks.invalidate(spark, root)
    true
  }

  /** Build the index from a corpus (epoch 1). Refuses a root that
    * already carries committed epochs: overwriting `params` (notably
    * `buckets`) would leave the standing epochs term-bucketed under
    * the PREVIOUS geometry while probes prune under the new one —
    * silently missing terms, the mixed-geometry failure the frozen
    * params exist to make inexpressible. Rebuild into a fresh root (or
    * `compactIndex`, which squashes epochs under the FROZEN geometry).
    */
  def build(docs: DataFrame, root: String, idCol: String = "doc_id",
            textCol: String = "text", k1: Double = 1.2,
            b: Double = 0.75, buckets: Int = 16): Unit = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    val spark = docs.sparkSession
    require(committedEpochs(spark, root).isEmpty,
      s"Bm25Index.build: $root already carries committed epochs — " +
        "rebuilding in place would mix bucket geometries; use a fresh " +
        "root (or compactIndex to rewrite under the frozen geometry)")
    graft.io.Sinks.requireAtomicRename(spark, root)
    import spark.implicits._
    Seq((k1, b, buckets, idCol, textCol))
      .toDF("k1", "b", "buckets", "id_col", "text_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/params")
    appendEpoch(docs, idCol, textCol, root)
  }

  /** Append a batch as a new epoch — already-indexed ids no-op
    * (retry-safe), a crash before the marker leaves nothing visible.
    */
  def append(batch: DataFrame, root: String): Unit = {
    val spark = batch.sparkSession
    val (_, _, _, idCol, textCol) = readParams(spark, root)
    appendEpoch(batch, idCol, textCol, root)
  }

  private def tombstonesOf(spark: SparkSession,
                           root: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (fsFor(spark, root).exists(p))
      Some(Tables.read(spark, p.toString))
    else None
  }

  /** Logical forget — right-to-be-forgotten reaching the SERVING index
    * (the `MinhashIndex.forget` split): one tiny append to
    * `tombstones/`, and probes stop surfacing the ids NOW. Unlike the
    * signature index, BM25 scoring depends on GLOBAL stats (N, avgdl)
    * and per-term df, so a tombstone that merely masked results would
    * leave every OTHER document's score stale. The tombstone therefore
    * carries the forgotten doc's `dl`, probes anti-join postings before
    * deriving df, and served stats subtract the tombstone totals —
    * all exact integer sums, so probe stays bit-identical to
    * `bm25TopK` over the LIVE corpus even before compaction (the spec
    * pins this). Only ids actually present get tombstoned (semi-join)
    * and re-forgetting is a no-op (anti-join) — a double tombstone
    * would double-subtract the stats. A tombstoned id cannot be
    * re-appended until `compactIndex` (the append anti-join sees its
    * still-physical postings), same rule as the signature index.
    */
  def forget(ids: DataFrame, root: String): Unit = {
    val spark = ids.sparkSession
    val (_, _, _, idCol, _) = readParams(spark, root)
    val committed = committedEpochs(spark, root)
    if (committed.isEmpty) return
    val present = Tables.read(spark, s"$root/postings")
      .filter(col("epoch").isin(committed.map(Int.box): _*))
      .select(col("doc_id"), col("dl"))
      .join(ids.select(col(idCol).as("doc_id")).distinct(),
            Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
    val fresh = tombstonesOf(spark, root)
      .map(t => present.join(t.select(col("doc_id")),
                             Seq("doc_id"), "left_anti"))
      .getOrElse(present)
    fresh.coalesce(1).write.mode("append").parquet(s"$root/tombstones")
    graft.io.Sinks.invalidate(spark, root)
  }

  /** Physical erasure + epoch squash: rewrite the whole store WITHOUT
    * tombstoned docs, collapsed to a single epoch with exact folded
    * stats, clearing the tombstones — one atomic root swap (the
    * `stagedReplace` contract: a crash leaves the OLD root serving,
    * its tombstones still masking probes). The postings rewrite is a
    * filter, never a re-tokenization.
    */
  def compactIndex(spark: SparkSession, root: String): Unit = {
    val committed = committedEpochs(spark, root)
    require(committed.nonEmpty, s"compactIndex: nothing committed at $root")
    graft.io.Sinks.stagedReplace(spark, root) { stage =>
      val live = Tables.read(spark, s"$root/postings")
        .filter(col("epoch").isin(committed.map(Int.box): _*))
      // one pass over the old store: the checkpointed survivors feed
      // the postings write AND the stats fold (cost bounded by live
      // posting volume — exactly what gets written anyway)
      val kept = tombstonesOf(spark, root)
        .map(t => live.join(t.select(col("doc_id")),
                            Seq("doc_id"), "left_anti"))
        .getOrElse(live)
        .select(col("doc_id"), col("term"), col("tf"), col("dl"),
                col("tb"))
        .repartition(col("tb"))
        .localCheckpoint(true)
      kept.write.partitionBy("tb").parquet(s"$stage/postings/epoch=1")
      val s = kept.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(coalesce(count(lit(1)).cast("double"), lit(0d)).as("n"),
             coalesce(sum(col("dl")), lit(0d)).as("sum_dl"))
      s.coalesce(1).write.parquet(s"$stage/stats/epoch=1")
      graft.CacheScope.unpersist(kept)
      Tables.read(spark, s"$root/params")
        .coalesce(1).write.parquet(s"$stage/params")
      val fs = fsFor(spark, stage)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stage/commits"))
      fs.create(new org.apache.hadoop.fs.Path(s"$stage/commits/1"),
                false).close()
      // tombstones intentionally not copied: the new root starts clean
    }
  }

  /** Streaming maintenance: every micro-batch appends as one epoch.
    * Exactly-once under foreachBatch's at-least-once replay window for
    * free: a replayed batch anti-joins to nothing and writes no epoch,
    * and a crash mid-epoch leaves an uncommitted orphan no probe sees.
    */
  def appendStream(stream: DataFrame, root: String,
                   checkpoint: String): org.apache.spark.sql.streaming
      .StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch, root)
      }
      .start()

  /** Top-k BM25 over the standing index WITHOUT touching corpus text:
    * reads the probed terms' bucket directories of committed epochs
    * (two partition filters — epoch and tb — prune at planning time),
    * derives per-term df by counting the pruned postings (exact, and
    * correct under append with no separate df store to maintain), and
    * folds the one-row stats snapshot in as a broadcast. Output matches
    * `bm25TopK`: (id, bm25) on the 1e-6 grid, rounded-score-desc /
    * id-asc total order, TakeOrderedAndProject.
    */
  /** Served global stats = committed snapshot MINUS tombstone totals —
    * both exact integer-valued sums, so logical forget keeps serving
    * on the same grid as a physical rewrite would. ONE definition for
    * probe and batchProbe (their spec-pinned score identity rides it).
    * The 1-row tombstone aggregate carries a broadcast hint: AQE would
    * pick one anyway, the hint makes the plan deterministic.
    */
  private def servedStats(spark: SparkSession, root: String,
                          committed: Seq[Int],
                          tomb: Option[DataFrame]): DataFrame = {
    val snap = Tables.read(spark, s"$root/stats/epoch=${committed.max}")
    tomb
      .map { t =>
        val rm = t.agg(
          coalesce(count(lit(1)).cast("double"), lit(0d)).as("__rn"),
          coalesce(sum(col("dl")), lit(0d)).as("__rs"))
        snap.crossJoin(broadcast(rm))
          .select((col("n") - col("__rn")).as("n"),
                  ((col("sum_dl") - col("__rs")) /
                    (col("n") - col("__rn"))).as("avgdl"))
      }
      .getOrElse(snap.select(col("n"), (col("sum_dl") / col("n")).as("avgdl")))
  }

  /** Tombstoned docs leave the pruned postings BEFORE df derivation,
    * so per-term df is live-exact too. Shared by probe/batchProbe.
    */
  private def liveOnly(pruned: DataFrame,
                       tomb: Option[DataFrame]): DataFrame =
    tomb
      .map(t => pruned.join(broadcast(t.select(col("doc_id"))),
                            Seq("doc_id"), "left_anti"))
      .getOrElse(pruned)

  /** The BM25 per-(doc, term) weight on the shared 1e-6 grid — the ONE
    * scoring expression probe, batchProbe and (structurally)
    * TextOps.bm25TopK must agree on; input carries tf, dl, df, n,
    * avgdl columns.
    */
  private def scoreW(frame: DataFrame, k1: Double, b: Double): DataFrame =
    frame
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("w",
        round(col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))

  def probe(spark: SparkSession, root: String, queryTerms: Seq[String],
            k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val (k1, b, buckets, idCol, _) = readParams(spark, root)
    val committed = committedEpochs(spark, root)
    require(committed.nonEmpty, s"probe: no committed epochs at $root")
    import spark.implicits._
    // bucket ids of the query terms via the SAME Spark expression the
    // writer used — a driver-side reimplementation of xxhash64 could
    // silently diverge; ≤ |queryTerms| rows ride this action
    val tbs = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(buckets.toLong))
        .cast("int").as("tb"))
      .distinct().as[Int].collect().toSeq
    val tomb = tombstonesOf(spark, root)
    val stats = servedStats(spark, root, committed, tomb)
    val pruned = Tables.read(spark, s"$root/postings")
      .filter(col("epoch").isin(committed.map(Int.box): _*) &&
              col("tb").isin(tbs.map(Int.box): _*) &&
              col("term").isin(queryTerms: _*))
    val post = liveOnly(pruned, tomb)
    val dfreq = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    scoreW(post.join(broadcast(dfreq), "term")
             .crossJoin(broadcast(stats)), k1, b)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("bm25"))
      .select(col("doc_id").as(idCol), col("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** Serve a whole TABLE of queries in ONE pass — the eval-set /
    * query-log deployment (N queries as N probes would re-plan and
    * re-scan N times; this reads the union of their buckets once).
    * `queries` is (qidCol, termCol) — one row per query term, the
    * exploded shape a query log naturally lands in. Per-query top-k
    * rides a window rank = WindowGroupLimit below the exchange, never
    * a global sort; scores are per-query identical to `probe` (same
    * df/stats folds — df is a per-TERM global, shared across queries),
    * which is the property the spec pins.
    *
    * Scale shape: the postings scan still partition-prunes to the
    * union of the queries' term buckets (the collected tb set is
    * bounded by `buckets`, never by query count); the query frame
    * broadcasts onto the pruned postings; the only shuffle is the
    * (query, doc) score aggregate, bounded by candidate volume.
    */
  def batchProbe(queries: DataFrame, root: String, k: Int = 10,
                 qidCol: String = "query_id",
                 termCol: String = "term"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val spark = queries.sparkSession
    val (k1, b, buckets, idCol, _) = readParams(spark, root)
    val committed = committedEpochs(spark, root)
    require(committed.nonEmpty, s"batchProbe: no committed epochs at $root")
    import spark.implicits._
    val q = queries
      .select(col(qidCol), col(termCol).as("term"))
      .filter(col("term").isNotNull).distinct()
    // ≤ `buckets` ints ride this action regardless of query volume
    val tbs = q.select(
        pmod(xxhash64(col("term")), lit(buckets.toLong))
          .cast("int").as("tb"))
      .distinct().as[Int].collect().toSeq
    val tomb = tombstonesOf(spark, root)
    val stats = servedStats(spark, root, committed, tomb)
    val pruned = Tables.read(spark, s"$root/postings")
      .filter(col("epoch").isin(committed.map(Int.box): _*) &&
              col("tb").isin(tbs.map(Int.box): _*))
      .join(broadcast(q.select(col("term")).distinct()), Seq("term"))
    val post = liveOnly(pruned, tomb)
    // df is per-term and query-independent — computed once over the
    // union, every query sharing a term shares its idf
    val dfreq = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = scoreW(post
        .join(broadcast(dfreq), "term")
        .join(broadcast(q), Seq("term"))
        .crossJoin(broadcast(stats)), k1, b)
      .groupBy(col(qidCol), col("doc_id"))
      .agg(round(sum(col("w")), 6).as("bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col(qidCol), col("doc_id").as(idCol), col("bm25"),
              col("__r").as("rank"))
  }
}
