package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.Sinks
import graft.text.TextOps

/** Incremental corpus refresh riding PERSISTED screening state — the
  * day-2 form of the refresh flagship. The one-shot form (r6's
  * q_incremental_refresh body) re-fingerprinted and re-shingled the
  * standing warehouse on EVERY batch: at 100 TB that is a full corpus
  * scan per ingest, the classic scale-killer of naive incremental
  * dedup. Here the warehouse's screening state is paid ONCE at
  * `establish` and kept on disk:
  *
  *   - `indexRoot/{params,sets,buckets,tombstones}` — the
  *     [[MinhashIndex]] near-dup signature store (band postings +
  *     hashed shingle sets; no text).
  *   - `indexRoot/fps` — (id, fp) content fingerprints, the exact-
  *     novelty gate's standing side (16-byte hashes; no text).
  *
  * `refresh(batch)` then touches warehouse TEXT exactly zero times for
  * screening: the novelty gate anti-joins the persisted fingerprints,
  * the cross-corpus near-dup screen probes the persisted band postings
  * and verifies against the stored shingle sets of CANDIDATES only.
  * Per-batch screening cost is O(batch) + candidate volume — the
  * warehouse contributes only pruned index reads. (The `mergeByKey`
  * table commit still rewrites the table — the honest price of
  * immutable parquet, orthogonal to screening; partition the table to
  * localize it.) CorpusRefreshSpec pins the no-re-read property
  * behaviorally: tampering the warehouse table's text between
  * establish and refresh does not change what the screen flags.
  *
  * Replay safety (the crashed-batch re-run): every observable artifact
  * is idempotent under a full re-run of `refresh` with the same batch —
  * (a) the fingerprint gate excludes fps belonging to the batch's own
  * ids, so a crashed attempt's own fps append is invisible to the
  * replay; (b) `MinhashIndex.probeSets` anti-joins index members
  * sharing a probe id, so its own sets/buckets append is likewise
  * invisible; (c) `mergeByKey` replaces by key; (d) both store appends
  * anti-join already-present ids. Single-writer contract, as everywhere
  * in the Sinks maintenance family.
  */
object CorpusRefresh {

  /** Run independent store mutations CONCURRENTLY (Spark schedules
    * concurrent jobs from one session; local and cluster schedulers
    * interleave their stages): writes that land in disjoint roots — this
    * commit phase's three, the board's cascade maintenance builds —
    * would otherwise pay one driver round-trip of latency each for no
    * ordering benefit. Any failure propagates. Each task runs in the
    * caller's CacheScope, so a pin it registers (mergeByKey's) is
    * released with the caller's other frames.
    */
  private[graft] def inParallel(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // settle ALL tasks, then rethrow the first failure: a fail-fast
    // Future.sequence returns while sibling Spark actions still run —
    // orphan jobs that keep mutating store directories (and, in a
    // bench, inflate the NEXT query's timed window)
    val results = Await.result(
      Future.sequence(tasks.map(graft.CacheScope.inherit).map(task =>
        Future(scala.util.Try(task())))),
      Duration.Inf)
    results.collectFirst { case scala.util.Failure(e) => throw e }: Unit
  }

  /** True when `indexRoot` already carries an established screening
    * state (the frozen `params/` present) — the establish-once,
    * refresh-forever cadence: callers skip `establish` on a root that
    * is already live instead of re-paying the corpus pass.
    */
  def established(spark: org.apache.spark.sql.SparkSession,
                  indexRoot: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexRoot/params")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Day-0: land the corpus table and pay the one-time screening-state
    * build — the MinHash signature index (shingling pass) and the
    * fingerprint set (one hash projection). Both read the WRITTEN
    * table, so the persisted state provably corresponds to the table's
    * bytes rather than the caller's pre-write plan.
    */
  def establish(docs: DataFrame, idCol: String, textCol: String,
                tableRoot: String, indexRoot: String,
                n: Int = 12, k: Int = 64, bands: Int = 16): Unit = {
    val spark = docs.sparkSession
    Sinks.replaceLoad(docs, tableRoot)
    val wh = Tables.read(spark, tableRoot)
    inParallel(
      () => MinhashIndex.build(wh, idCol, textCol, indexRoot, n, k, bands),
      () => wh.select(col(idCol).as("id"),
                      TextOps.fingerprint(col(textCol)).as("fp"))
        .write.mode("overwrite").parquet(s"$indexRoot/fps"))
  }

  /** Day-2: screen a batch against the standing corpus and commit the
    * survivors — token floor → exact-content novelty (anti-join vs the
    * PERSISTED fingerprints) → within-batch near-dup election (exact
    * pairs + connected components + canonical-min; a batch can
    * duplicate itself) → cross-corpus near-dup screen (probe of the
    * PERSISTED band postings, exact-verified against stored candidate
    * sets) → crash-safe `mergeByKey` insert + screening-state appends,
    * so the NEXT batch screens against this one too. Returns the
    * committed survivors.
    *
    * Two barriers, both eager localCheckpoints taken BEFORE any store
    * mutation (MinhashIndex.ingest's probe-then-mutate barrier):
    *  1. the gate — the batch minus the standing fingerprints, read
    *     once; every later plan (shingle sets, election, survivors) sits
    *     on it as a leaf, not on the `indexRoot/fps` scan;
    *  2. `flagged` — the cross-corpus probe's verdict. The probe's own
    *     pins over `indexRoot/{buckets,sets}` are released right after.
    * So when the commits start, no cache refresh holds reads a path
    * under `indexRoot`: their `invalidate` calls find nothing of
    * refresh's to clear and re-plan, and a lost-executor recompute can
    * never silently re-plan the gate or the probe against the
    * post-append stores — it fails loudly instead. Checkpoint cost is
    * bounded by the gated batch and the flagged-id volume.
    *
    * Cache ownership: the gate, `flagged`, the election's pins and
    * mergeByKey's pin register with CacheScope and back the returned
    * survivors plan — release them (CacheScope.capture) after consuming
    * it; the release frees the checkpoint blocks too.
    */
  def refresh(batch: DataFrame, idCol: String, textCol: String,
              tableRoot: String, indexRoot: String,
              tau: Double, minTokens: Int): DataFrame = {
    val spark = batch.sparkSession
    val (n, k, bands) = MinhashIndex.readParams(spark, indexRoot)
    // standing fps minus the batch's own ids (replay contract (a)):
    // null-fp rows (null text) never equi-match, matching the gate's
    // "novel unless provably seen" direction
    val standingFps = Tables.read(spark, s"$indexRoot/fps")
      .join(batch.select(col(idCol).as("id")), Seq("id"), "left_anti")
      .select(col("fp")).distinct()
    // barrier 1: the gate is FROZEN, not pinned — the standing
    // fingerprints are read once, before any mutation. gated feeds the
    // within-batch shingle sets, the election and the survivor anti-
    // joins; as a checkpoint it is a plan leaf under all of them, so
    // their plans stop nesting the fingerprint anti-join (AQE re-explains
    // every nested cached plan at each stage) and no store invalidation
    // can match them — their lineage no longer reads `indexRoot/fps`.
    val gated = batch
      .filter(TextOps.tokenCount(col(textCol)) >= minTokens)
      .join(standingFps,
            TextOps.fingerprint(col(textCol)) === col("fp"),
            "left_anti")
      .localCheckpoint(true)
      .transform(graft.CacheScope.register)
    val gSets = DedupOps.hashedSets(gated, idCol, textCol, n)
    // ONE signing+banding pass over the batch, pinned and shared by all
    // three consumers (within-batch election, cross-corpus probe, store
    // append) — signatures are a pure function of (hs, geometry), so
    // each consumer's row-subset is exactly what it would have computed
    // itself. Within-batch election uses the SAME banding geometry as
    // the index (every candidate exact-Jaccard verified, so precision
    // is exact; recall is the banding contract both screens already
    // share) — measured faster than the exact prefix join here, and one
    // geometry means one recall story for the whole refresh.
    val bucketed = graft.CacheScope.pin(DedupOps.lshBuckets(gSets, k, bands))
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bh") === col("b.bh") &&
              col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val drops = graft.CacheScope.pin(ConnectedComponents.connectedComponents(
        DedupOps.verifyPairs(cand, gSets, tau),
        "id_a", "id_b", assumeDistinct = true)
      .filter(col("id") =!= col("comp"))
      .select(col("id")))
    val canonSets = gSets.join(drops, Seq("id"), "left_anti")
    val canonPostings = bucketed.join(drops, Seq("id"), "left_anti")
    // cross-corpus screen: batch canonicals vs the persisted index —
    // warehouse text is never read. Recall contract is minhashLshPairs'
    // banding geometry; every emitted candidate is exact-Jaccard
    // verified, so precision is exact. barrier 2: flagged is frozen,
    // then the probe's own pins (candidates and verify ids over
    // `indexRoot/{buckets,sets}`) are released at once — nothing reads
    // them past the checkpoint, and held through the commits every
    // `invalidate(indexRoot)` would clear and re-plan them.
    val (flagged, releaseProbe) = graft.CacheScope.capture {
      MinhashIndex.probePostings(canonSets, canonPostings, indexRoot, tau)
        .select(col("id_b").as("id")).distinct()
        .localCheckpoint(true)
    }
    releaseProbe()
    graft.CacheScope.register(flagged)
    val dropIds = drops.withColumnRenamed("id", idCol)
    val flaggedIds = flagged.withColumnRenamed("id", idCol)
    val survivors = gated
      .join(dropIds, Seq(idCol), "left_anti")
      .join(flaggedIds, Seq(idCol), "left_anti")
    // commit: three writes into DISJOINT roots (table, sets/buckets,
    // fps), every input lineage frozen above a cache or checkpoint —
    // safe and worthwhile to run concurrently. presentFps is read
    // BEFORE the parallel block so its file listing cannot race the
    // fps append.
    val presentFps = Tables.read(spark, s"$indexRoot/fps")
      .select(col("id"))
    inParallel(
      () => Sinks.mergeByKey(survivors, Seq(idCol), tableRoot),
      () => MinhashIndex.appendPostings(
        canonSets.join(flagged, Seq("id"), "left_anti"),
        canonPostings.join(flagged, Seq("id"), "left_anti"),
        indexRoot),
      () => survivors
        .select(col(idCol).as("id"),
                TextOps.fingerprint(col(textCol)).as("fp"))
        .join(presentFps, Seq("id"), "left_anti")
        .write.mode("append").parquet(s"$indexRoot/fps"))
    // the batch-only pins go first: the closing invalidate then
    // re-plans only caches that outlive refresh
    bucketed.unpersist(false)
    gSets.unpersist(false)
    Sinks.invalidate(spark, indexRoot)
    survivors
  }

  /** Streaming refresh: the day-2 composition AT INGEST TIME — each
    * micro-batch runs the batch `refresh` against the established
    * state, with the persisted table/index/fingerprint stores as the
    * ONLY state (no Spark streaming state, no watermark — the
    * MinhashIndex.ingestStream deployment argument). Exactly-once end
    * to end comes from `refresh`'s replay contract: a replayed epoch
    * (the foreachBatch at-least-once window) gates and probes
    * identically (the batch's own fps/postings are excluded from the
    * standing side), merges the same keys, and appends nothing new —
    * so every observable artifact is idempotent under replay.
    * Single-writer contract, as everywhere in the maintenance family.
    */
  def refreshStream(stream: DataFrame, idCol: String, textCol: String,
                    tableRoot: String, indexRoot: String, tau: Double,
                    minTokens: Int, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-epoch cache ownership (the ingestStream pattern):
        // refresh's gate and flagged checkpoints, election pins and
        // merge pin register into this scope and are released (blocks
        // included) once its commits return — an unscoped
        // stream would orphan them per epoch, growing the
        // CacheManager without bound. All of refresh's own actions
        // (the store commits) run INSIDE the scope; the returned
        // survivors frame is not consumed further.
        val (_, release) = graft.CacheScope.capture {
          refresh(batch, idCol, textCol, tableRoot, indexRoot,
                  tau, minTokens)
        }
        release()
        ()
      }
      .start()
}
