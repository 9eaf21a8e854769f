package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Ownership handles for operator-internal caches.
  *
  * Several operators persist intermediates that their RETURNED plan still
  * reads (DedupOps.hashedSets' shingle sets, the CC loop's star frame,
  * CorpusPipeline.curate's shared enrichment pass, ivfTrain's codebook).
  * The frames must stay cached until the caller's consuming action, so
  * the operator cannot unpersist them itself — but without a handle the
  * caller's only release lever was `spark.catalog.clearCache()`, which
  * nukes every cache in the session (hostile in a long-lived session
  * that holds unrelated cached tables).
  *
  * `capture` gives the caller precise ownership:
  * {{{
  *   val (pairs, release) = CacheScope.capture {
  *     DedupOps.minhashLshPairs(docs, "doc_id", "text")
  *   }
  *   pairs.write.parquet(out)   // caches live through the action
  *   release()                  // exactly the operator's caches dropped
  * }}}
  *
  * Mechanics: every operator-internal `persist` routes through
  * `register`, which notes the frame in the innermost active scope on
  * the CURRENT THREAD (plan construction is driver-side and
  * single-threaded per call; scopes are ThreadLocal so concurrent query
  * builders never see each other's frames; an operator that fans out
  * to other threads binds its tasks to its own scope with `inherit`).
  * Outside any scope `register` is a no-op passthrough — callers that
  * drop every cache (Bench/Verify, `Session.dropCaches`) are unchanged.
  * Nested captures own their frames exclusively: an inner scope's
  * frames belong to the inner release().
  *
  * `release()` is idempotent and safe on frames an operator already
  * unpersisted itself (loop intermediates): `unpersist` on a non-cached
  * frame is a Spark no-op. A registered `localCheckpoint` frame is
  * released too: `unpersist` below frees its checkpoint blocks, which
  * `Dataset.unpersist` never reaches.
  */
object CacheScope {

  private val current = new ThreadLocal[ListBuffer[DataFrame]]

  /** Route an operator-internal persist through the active scope (if
    * any). Returns the frame for chaining.
    */
  private[graft] def register(df: DataFrame): DataFrame = {
    val buf = current.get()
    if (buf != null) buf.synchronized(buf += df)
    df
  }

  /** persist(MEMORY_AND_DISK) + `register` for an operator-internal
    * frame that several plan branches consume. The pin is LOAD-BEARING
    * for plan cost, not just convenience: AQE materializes its query
    * stages independently and does not reuse exchanges whose subtree
    * reads an InMemoryRelation, so an UNpinned multi-consumer frame gets
    * its whole lineage re-executed once per consuming branch (measured
    * 5× on the verify candidate join — NgramPropertySpec pins the fix).
    * Eager materialization was measured as a strict loss here (one extra
    * pass, no reuse gain) — the cache fills lazily at first action.
    */
  private[graft] def pin(df: DataFrame): DataFrame =
    register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** `task` bound to the CALLER's scope, to run on another thread (a
    * fan-out such as CorpusRefresh.inParallel): frames it registers
    * there belong to the caller's release(), not to no scope at all.
    */
  private[graft] def inherit(task: () => Unit): () => Unit = {
    val buf = current.get()
    () => {
      val own = current.get()
      current.set(buf)
      try task() finally current.set(own)
    }
  }

  /** Drop a frame's cached blocks. `Dataset.unpersist` reaches only
    * CacheManager entries; a `localCheckpoint`ed frame has none — it is
    * a LogicalRDD leaf over a persisted RDD, whose blocks would stay in
    * `sc.getPersistentRDDs` until the session ends. Only the frame's own
    * root counts: a frame DERIVED from a checkpoint (a pin over it, a
    * projection of it) leaves the checkpoint to its owner.
    */
  private[graft] def unpersist(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(false)
      case _ =>
    }
  }

  /** Run `body`, collecting every operator-internal persist it performs
    * on this thread. Returns (result, release): call release() after the
    * consuming action to drop exactly those caches (blocking=false).
    */
  def capture[T](body: => T): (T, () => Unit) = {
    val outer = current.get()
    val buf = ListBuffer.empty[DataFrame]
    current.set(buf)
    val result =
      try body
      catch {
        // the release handle is never returned on a failed build, so
        // frames the body already persisted would otherwise outlive it
        // with no owner — exactly the clearCache-only leak this class
        // exists to replace
        case t: Throwable =>
          buf.foreach(unpersist)
          throw t
      }
      finally current.set(outer)
    (result, () => buf.foreach(unpersist))
  }

  /** Scoped convenience: build a frame, hand it to `use`, release the
    * operator caches afterwards even on failure.
    */
  def withScope[R, T](build: => R)(use: R => T): T = {
    val (built, release) = capture(build)
    try use(built)
    finally release()
  }
}
