package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Persisted near-duplicate SIGNATURE INDEX — the lexical twin of the
  * persisted IVF layout (`SimilarityOps.saveIndex`/`appendIndex`): pay
  * the corpus shingling + MinHash pass ONCE at build time, keep the
  * LSH band postings and the hashed shingle sets on disk, and let
  * every future batch probe and append against the store WITHOUT ever
  * re-reading corpus text. Day-2 near-dup screening cost becomes
  * O(batch grams) for banding, candidate volume for the bucket join,
  * and only the MATCHED index docs' shingle sets for exact verify —
  * never a corpus re-scan (`incrementalDedup`'s R-S join re-shingles
  * the standing corpus every batch; this is its amortized form).
  *
  * Layout under `root`:
  *   - `params/`  one row (n, k, bands): the shingle width and banding
  *     geometry, FROZEN at build time. Probe/append read the geometry
  *     from here rather than accepting it as arguments — signatures
  *     from mixed geometries silently miss pairs, the worst failure
  *     mode a dedup screen has, so the API makes the mix inexpressible.
  *   - `sets/`    (id, hs, sz) hashed shingle sets — the verify-side
  *     ground truth (8-byte xxhash64 grams, no text).
  *   - `buckets/` (id, bh) LSH postings partitioned by `band`: a probe
  *     joins on (band, bh), so partition pruning applies when probing
  *     a band subset, and the per-band directories keep bucket joins
  *     co-located at scale.
  *   - `tombstones/` (id) logically-forgotten members (see `forget` /
  *     `compactIndex` — the deletion-vector + VACUUM split).
  *
  * Recall contract is `minhashLshPairs`'s: choose (k, bands) so the
  * band-collision probability at τ makes misses negligible; every
  * emitted pair is exact-Jaccard verified, so false positives never
  * survive. Retry safety: `append` anti-joins ids already present in
  * `sets/` (one id-column scan — every other column prunes), so a
  * re-delivered batch cannot double-insert. Single-writer contract,
  * like the Sinks maintenance family.
  */
object MinhashIndex {

  private[dedup] def readParams(spark: SparkSession,
                                root: String): (Int, Int, Int) = {
    val r = Tables.read(spark, s"$root/params").head()
    (r.getAs[Int]("n"), r.getAs[Int]("k"), r.getAs[Int]("bands"))
  }

  /** Build the index from a corpus: one shingling pass feeds both the
    * sets store and the band postings (the hashedSets cache is released
    * before returning — build owns it).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            root: String, n: Int = 12, k: Int = 64,
            bands: Int = 16): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sets = DedupOps.hashedSets(docs, idCol, textCol, n)
    sets.write.mode("overwrite").parquet(s"$root/sets")
    DedupOps.lshBuckets(sets, k, bands)
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$root/buckets")
    Seq((n, k, bands)).toDF("n", "k", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/params")
    sets.unpersist(false)
  }

  /** Probe a batch against the standing index: verified near-dup pairs
    * (id_a = index member, id_b = probe member, jaccard ≥ τ), without
    * modifying the index — the decontamination-screen deployment (is
    * this batch already in the corpus?). Shingles the BATCH only; the
    * index side contributes its band postings to the candidate join
    * and, for candidates only, its stored sets to the exact verify.
    * Probe ids colliding with index ids are skipped (an id present on
    * both sides is the same document by contract — re-probing an
    * already-ingested batch must not self-match).
    */
  def probe(batch: DataFrame, idCol: String, textCol: String,
            root: String, tau: Double, maxBucket: Long = 0L): DataFrame = {
    // CALLER-OWNED CACHES: the returned plan reads the batch's pinned
    // shingle sets — release them after your consuming action with
    // CacheScope (wrap the probe in `CacheScope.capture`, or use
    // `probeWith` below, which does it for you). A long-lived session
    // issuing bare `probe` calls outside any scope accumulates one
    // pinned frame per probe.
    val spark = batch.sparkSession
    val (n, k, bands) = readParams(spark, root)
    // CACHE OWNERSHIP: the batch's pinned shingle sets feed the
    // RETURNED lazy plan from several branches (postings, the id
    // anti-join, the verify union) — the caller releases them
    // (CacheScope.capture / clearCache, the hashedSets contract). An
    // eager unpersist here dropped the pin before any action filled
    // it, re-shingling the batch once per plan branch; `ingest` can
    // release because its localCheckpoint materializes first.
    probeSets(DedupOps.hashedSets(batch, idCol, textCol, n),
              root, tau, k, bands, maxBucket)
  }

  /** Scoped `probe`: runs the consuming action inside a CacheScope and
    * releases the probe's internal pins before returning — the
    * leak-proof shape for a long-lived session.
    * {{{
    *   val n = MinhashIndex.probeWith(batch, "id", "text", root, 0.7) {
    *     pairs => pairs.count()
    *   }
    * }}}
    */
  def probeWith[T](batch: DataFrame, idCol: String, textCol: String,
                   root: String, tau: Double, maxBucket: Long = 0L)
                  (use: DataFrame => T): T =
    graft.CacheScope.withScope(
      probe(batch, idCol, textCol, root, tau, maxBucket))(use)

  private[dedup] def probeSets(bsets: DataFrame, root: String, tau: Double,
                               k: Int, bands: Int,
                               maxBucket: Long = 0L): DataFrame =
    probePostings(bsets, DedupOps.lshBuckets(bsets, k, bands), root, tau,
                  maxBucket)

  /** Probe with the batch's band postings supplied by the caller — lets
    * a pipeline that already banded the batch (CorpusRefresh pins ONE
    * postings frame for election, probe and append) skip re-signing.
    * `postings` must be `lshBuckets(bsets, k, bands)` under the index's
    * frozen geometry (or a row-subset of it for a doc-subset probe).
    */
  /** `maxBucket` (default 0 = off, the oracle-checked contract) is the
    * probe-side hot-bucket cap — the persisted twin of
    * `DedupOps.minhashLshPairsFromSets`' dial: STORED buckets wider
    * than the cap are excluded from the candidate join, bounding the
    * per-probe-posting fan-out a boilerplate mega-bucket in the
    * standing corpus would otherwise cost (batch-width × stored-width
    * candidates per band). One-sided on the stored side because that
    * is the 100 TB side; the width scan rides the same postings read
    * the join already pays. Same explicit trade as the pair join: a
    * batch doc misses an index member only if EVERY shared band's
    * stored bucket is hot, and every emitted pair stays
    * exact-verified. Probe-time only — the stored layout is unchanged
    * and ingest/refresh always screen uncapped.
    */
  private[dedup] def probePostings(bsets: DataFrame, postings: DataFrame,
                                   root: String, tau: Double,
                                   maxBucket: Long = 0L): DataFrame = {
    val spark = bsets.sparkSession
    val stored0 = Tables.read(spark, s"$root/buckets")
    val stored =
      if (maxBucket <= 0L) stored0
      else {
        // widths count LIVE postings only: tombstoned members never
        // reach the verify (liveSets), so a heavily-forgotten bucket's
        // dead rows must not push its live fan-out over the cap
        val live = tombstonesOf(spark, root)
          .map(t => stored0.join(t, Seq("id"), "left_anti"))
          .getOrElse(stored0)
        val hot = live.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("__w"))
          .filter(col("__w") > maxBucket)
          .select(col("band"), col("bh"))
        live.join(broadcast(hot), Seq("band", "bh"), "left_anti")
      }
    // index members sharing an id with ANY probe doc are excluded (not
    // just the same-row pairing): same id = same document by contract,
    // and the anti-join makes a REPLAYED ingest's probe independent of
    // its own earlier append — probe is always "batch vs index minus
    // batch", so re-running a crashed epoch reproduces its pairs
    // bit-for-bit instead of surfacing the batch's own copies
    val cand = postings.as("p")
      .join(stored.as("s"),
            col("p.band") === col("s.band") &&
              col("p.bh") === col("s.bh"))
      .select(col("s.id").as("id_a"), col("p.id").as("id_b"))
      .join(bsets.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .distinct()
    // tombstoned index members drop out here: the verify side is the
    // LIVE sets only, and verifyPairs's inner joins eliminate any
    // candidate whose id_a has no live set row
    val indexSets = liveSets(spark, root)
      .join(cand.select(col("id_a").as("id")).distinct(),
            Seq("id"), "left_semi")
    DedupOps.verifyPairs(cand, bsets.unionByName(indexSets), tau)
  }

  private def tombstonesOf(spark: SparkSession,
                           root: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(Tables.read(spark, p.toString).select(col("id")).distinct())
    else None
  }

  private def liveSets(spark: SparkSession, root: String): DataFrame = {
    val sets = Tables.read(spark, s"$root/sets")
    tombstonesOf(spark, root)
      .map(t => sets.join(t, Seq("id"), "left_anti"))
      .getOrElse(sets)
  }

  /** Logical forget — the right-to-be-forgotten reaching the INDEX, not
    * just the source table: append the ids to `tombstones/`; probes
    * stop matching them immediately. The physical bytes remain until
    * `compactIndex` — the deletion-vector + VACUUM split (Delta,
    * Lucene): band postings spread every doc across EVERY band
    * directory, so a physical per-forget rewrite would rewrite the
    * whole store for one id, while the tombstone is one tiny append.
    * Contract: a tombstoned id cannot be re-appended until compaction
    * (`append` skips ids still physically present — un-tombstoning
    * would resurrect the OLD bytes next to the new row).
    */
  def forget(ids: DataFrame, idCol: String, root: String): Unit = {
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$root/tombstones")
    graft.io.Sinks.invalidate(ids.sparkSession, root)
  }

  /** Physical erasure: rewrite `sets/` and `buckets/` WITHOUT the
    * tombstoned ids and clear the tombstones, swapping the whole index
    * root atomically (the stagedReplace contract — a crash leaves the
    * old root serving, with its tombstones still masking probes).
    * Postings are filtered, never re-banded: `buckets/` rows are
    * (id, band, bh) facts independent of which other docs exist.
    */
  def compactIndex(spark: SparkSession, root: String): Unit =
    graft.io.Sinks.stagedReplace(spark, root) { stage =>
      liveSets(spark, root).write.parquet(s"$stage/sets")
      val buckets = Tables.read(spark, s"$root/buckets")
      tombstonesOf(spark, root)
        .map(t => buckets.join(t, Seq("id"), "left_anti"))
        .getOrElse(buckets)
        .repartition(col("band"))
        .write.partitionBy("band").parquet(s"$stage/buckets")
      Tables.read(spark, s"$root/params")
        .coalesce(1).write.parquet(s"$stage/params")
      // tombstones intentionally not copied: the new root starts clean
    }

  /** Append a batch into the index (assign-against-frozen-geometry, the
    * `appendIndex` cadence): ids already present are anti-joined away
    * first, so re-delivery after a crashed-after-commit attempt is a
    * no-op rather than a double insert. Band postings append only into
    * the directories the batch lands in.
    */
  def append(batch: DataFrame, idCol: String, textCol: String,
             root: String): Unit = {
    val spark = batch.sparkSession
    val (n, k, bands) = readParams(spark, root)
    appendSets(DedupOps.hashedSets(batch, idCol, textCol, n),
               root, k, bands)
  }

  private[dedup] def appendSets(bsets: DataFrame, root: String,
                                k: Int, bands: Int): Unit =
    appendPostings(bsets, DedupOps.lshBuckets(bsets, k, bands), root)

  /** Append with caller-supplied band postings (same contract as
    * `probePostings`): both sides are anti-joined against ids already
    * present, so a re-delivered batch — or postings computed over a
    * superset frame — inserts each id's rows at most once.
    */
  private[dedup] def appendPostings(bsets: DataFrame, postings: DataFrame,
                                    root: String): Unit = {
    val spark = bsets.sparkSession
    // Each append anti-joins against ITS OWN store: a crash between
    // the two writes is then healed by replay — the committed side
    // no-ops, the missing side fills in. (Using sets-presence as a
    // proxy for both left a crash window where replayed docs existed
    // in sets/ but never regained band postings — permanently
    // invisible to probes, breaking the replay-is-a-no-op contract.)
    // Interim states are safe either way: a doc with only one side
    // present is simply not probe-visible until the replay completes
    // (candidates need buckets/, verify needs sets/).
    val existingSets = Tables.read(spark, s"$root/sets").select(col("id"))
    bsets.join(existingSets, Seq("id"), "left_anti")
      .write.mode("append").parquet(s"$root/sets")
    val existingPostings = Tables.read(spark, s"$root/buckets")
      .select(col("id")).distinct()
    postings.join(existingPostings, Seq("id"), "left_anti")
      .repartition(col("band"))
      .write.mode("append").partitionBy("band")
      .parquet(s"$root/buckets")
    graft.io.Sinks.invalidate(spark, root)
  }

  /** The day-2 composition: probe THEN append in one shingling pass —
    * screen the batch against the standing corpus and make it part of
    * the corpus for the NEXT batch. The probe result is materialized
    * via an EAGER localCheckpoint BEFORE the append: the barrier (cost
    * bounded by verified-pair volume, not batch volume) freezes the
    * probe while the index is still pre-append, and the lineage CUT
    * means a lost-executor recompute can never silently re-plan the
    * probe against the mutated index — it fails loudly instead (the
    * probe-then-mutate race every read-modify store has). Returns the
    * checkpointed pairs, registered with CacheScope: its release frees
    * the checkpoint blocks.
    */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             root: String, tau: Double): DataFrame = {
    val spark = batch.sparkSession
    val (n, k, bands) = readParams(spark, root)
    val bsets = DedupOps.hashedSets(batch, idCol, textCol, n)
    // the probe's own pins (candidates, verify ids) read `root`: release
    // them once the pairs are frozen, before appendSets' invalidate(root)
    // would clear and re-plan them for nothing
    val (pairs, releaseProbe) = graft.CacheScope.capture {
      probeSets(bsets, root, tau, k, bands).localCheckpoint(true)
    }
    releaseProbe()
    appendSets(bsets, root, k, bands)
    bsets.unpersist(false)
    graft.CacheScope.register(pairs)
  }

  /** Streaming ingest: near-dup screening AT INGEST TIME, with the
    * persisted index as the ONLY state — no Spark streaming state, no
    * watermark (the index never evicts; `dedupStream`'s watermarked
    * exact-dedup is the bounded-state alternative when an index is too
    * much). Each micro-batch runs the batch `ingest` and lands its
    * verified pairs in `pairsOut/batch_id=N`.
    *
    * Exactly-once, end to end: a replayed epoch (crash between sink
    * commit and checkpoint advance — the foreachBatch at-least-once
    * window) (a) re-appends nothing (`append`'s id anti-join), (b)
    * re-probes to the SAME pairs (probe is "batch vs index minus
    * batch", so the crashed attempt's own append is invisible), and
    * (c) OVERWRITES its own epoch directory rather than appending —
    * so every observable artifact is idempotent under replay.
    * Single-writer contract as everywhere in the maintenance family.
    */
  def ingestStream(stream: DataFrame, idCol: String, textCol: String,
                   root: String, tau: Double, pairsOut: String,
                   checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-epoch cache ownership: ingest's operator-internal pins
        // (batch shingle sets, verify candidates) route through
        // CacheScope.register, which is a no-op outside a scope — an
        // unscoped long-running stream would orphan one set of cache
        // entries per epoch (CacheManager holds them strongly). The
        // capture bounds the session's cache to the current epoch.
        val (pairs, release) = graft.CacheScope.capture {
          ingest(batch, idCol, textCol, root, tau)
        }
        try pairs.write.mode("overwrite")
          .parquet(s"$pairsOut/batch_id=$batchId")
        finally release()
        ()
      }
      .start()
}
