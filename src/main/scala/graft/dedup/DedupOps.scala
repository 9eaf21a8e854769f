package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ShingleExpressions
import graft.text.TextOps

/** Deduplication operators for training-data curation (north-star scope):
  * exact, keyed, n-gram-Jaccard (exact set-similarity join), MinHash+LSH.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup = hash-groupBy — one shuffle on the content hash, never
  *    on the full document;
  *  - the n-gram Jaccard join uses PREFIX FILTERING (order shingles by
  *    global document-frequency, join only on each doc's rarest
  *    ⌊(1−τ)·|S|⌋+1 shingles). The naive postings self-join is Θ(Σ df²)
  *    and melts on hot shingles; the prefix join is provably lossless for
  *    J ≥ τ (prefix length ≥ |S|−⌈τ|S|⌉+1, the classic probing-prefix
  *    bound) while cutting candidates by orders of magnitude;
  *  - MinHash+LSH replaces the exact prefix join when even that is too
  *    big: signature k hashes, b bands → candidates only for pairs sharing
  *    a band, P(miss) = (1−s^r)^b, then exact-Jaccard verification so the
  *    output is still exact for pairs LSH surfaces.
  */
object DedupOps {

  /** Keyed dedup, deterministic survivor = min id per key group. */
  def dedupKeyed(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col(idCol)).as(idCol))

  /** Keyed dedup keeping the whole first row per key (ordered by
    * `orderCols` — deterministic, unlike dropDuplicates(keys)).
    */
  def dedupKeyedFirstRow(df: DataFrame, keys: Seq[String],
                         orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-content dedup census: total vs surviving distinct fingerprints.
    * At scale this is the first pass of any corpus clean: one shuffle on a
    * 16-byte hash instead of the document bytes.
    */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("total_docs"),
           countDistinct(TextOps.fingerprint(col(textCol)))
             .as("distinct_docs"))

  /** Character n-gram shingle set (distinct, sorted for stable arrays).
    * Texts shorter than n yield an empty set (no window exists) — same
    * semantics as the hashed path (ShingleHashes) and the SQL oracle.
    */
  def shingles(text: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), length(text) - (n - 1)),
      i => text.substr(i, lit(n)))
    array_sort(array_distinct(
      when(length(text) >= n, grams)
        .otherwise(array().cast("array<string>"))))
  }

  /** (id, hs, sz) frame — SORTED DISTINCT 64-bit shingle hashes per doc
    * (graft.functions.ShingleHashes: in-place window hashing, no string
    * materialization), computed once and pinned.
    * Both pair joins reference this subtree three times (postings, verify
    * left, verify right); without a materialization barrier Spark
    * re-shingles the corpus per reference. `persist(MEMORY_AND_DISK)` goes
    * through the CacheManager, so (unlike the r1 localCheckpoint, whose
    * pinned blocks were unreclaimable and stalled the bench) the blocks
    * are evictable under pressure and released by `clearCache`/unpersist
    * after the consuming action.
    *
    * CACHE OWNERSHIP: the returned frame is persisted and the CALLER owns
    * its release. Preferred: build inside `CacheScope.capture { ... }`
    * and call the returned release() after the consuming action — it
    * drops exactly the frames the operators pinned (this one, the prefix
    * frame `ngramJaccardPairs*` pins internally, `CorpusPipeline.curate`'s
    * enrichment frame) without touching unrelated session caches.
    * `unpersist()` or `Session.dropCaches` (as Bench/Verify do per
    * action) remain valid; without SOME release a long-lived session
    * accumulates block-manager bookkeeping.
    */
  def hashedSets(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame =
    // spread the docs across the cluster FIRST: a small corpus often
    // arrives as one parquet row-group → one partition, which would run
    // the per-byte shingling (and everything the cached frame feeds,
    // including the postings explode) on a single core. One tiny exchange
    // of raw text buys full parallelism for the quadratic work downstream
    // — the same shape at 100 TB, where a few large input splits would
    // otherwise feed the pair join. Hash-partition on the id (NOT
    // round-robin): round-robin repartition locally sorts every row for
    // retry determinism — a full sort of document bytes; the hash
    // exchange just routes rows.
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
                     col(idCol))
      .select(col(idCol).as("id"),
              ShingleExpressions.shingleHashes(col(textCol), n).as("hs"))
      .withColumn("sz", size(col("hs")))
      // fills at first action (why not eagerly: see CacheScope.pin)
      .transform(graft.CacheScope.pin)

  /** Exact-Jaccard verification of candidate pairs. The shingle-set
    * payloads are first semi-join-reduced to ids that actually appear in
    * a candidate (at corpus scale candidates ≪ corpus, so this turns two
    * full-corpus array shuffles into small ones — and once reduced under
    * the broadcast threshold, AQE turns the payload joins into broadcasts
    * with no array sort at all).
    */
  /** Ceiling for explicitly broadcasting the semi-join-reduced set
    * payloads in the verify joins: min(2 GiB, maxHeap/8), overridable
    * via `spark.graft.verify.broadcastCap` (bytes). See
    * `joinPayloads` for why this dial exists.
    */
  private def verifyBroadcastCap(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.verify.broadcastCap")
      .map(_.toLong)
      .getOrElse(math.min(2L << 30, Runtime.getRuntime.maxMemory() / 8))

  /** Attach both set payloads (set_a/sz_a, set_b/sz_b) to a PINNED
    * narrow candidate-pair frame — the shared shape of both verifies.
    *
    * Join-strategy choice is made from RUNTIME stats (one cheap agg
    * over the cached sets), not a static hint, because the two regimes
    * want opposite plans (the r11 ScaleCurve finding — x64 was 95 s vs
    * 13 s for the same join on the wrong side of this choice):
    *
    *  - reduced payloads fit memory → explicit broadcast BOTH joins.
    *    The second join's probe side is candidates WITH set_a already
    *    attached (~KBs/row); any shuffle-based strategy re-shuffles
    *    that wide stream (measured 32 GB at ScaleCurve x64, 65% of the
    *    query), while a broadcast ships the reduced sets once and the
    *    wide stream never moves. AQE only makes this conversion under
    *    `autoBroadcastJoinThreshold` (10 MB default) — far below where
    *    the wide-shuffle cliff actually starts paying for a broadcast.
    *  - beyond the cap (a verify whose candidate id set is itself a
    *    large corpus fraction at 100 TB) → shuffle-hash, not
    *    sort-merge: the payload shuffle is then genuinely required,
    *    but SMJ would additionally SORT the wide stream; hashing
    *    builds on the reduced sets side and streams candidates.
    *    On a real cluster the cap scales with executor memory.
    */
  private def joinPayloads(cand: DataFrame, sets: DataFrame): DataFrame = {
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
      .transform(graft.CacheScope.pin)
    val needed = sets.join(candIds, Seq("id"), "left_semi")
    // runtime sizes: gram longs dominate; 48 B/row covers struct+array
    // overhead. Two narrow jobs over cached frames — O(needed) +
    // O(cand) — trivial next to either verify shape they choose
    // between. candN also warms the cand cache before its five
    // consuming branches race (the pinned scaladoc's lazy-fill caveat).
    val st = needed.agg(count(lit(1)).as("n"), sum(col("sz")).as("g")).head()
    val neededBytes = (if (st.isNullAt(1)) 0L else st.getLong(1)) * 8L +
      st.getLong(0) * 48L
    val candN = cand.count()
    val avgSz = if (st.getLong(0) == 0) 0L
                else (if (st.isNullAt(1)) 0L else st.getLong(1)) / st.getLong(0)
    // shape A (shuffle_hash) re-shuffles the candidate stream WITH the
    // first payload attached; shape B (broadcast) ships the reduced
    // sets to every task twice. Compare the two traffic estimates and
    // take the cheaper — with few candidates over a large needed side
    // (containment at ScaleCurve x64) A wins; with candidate volume
    // dominating (jaccard at x64: 18 GB wide vs 2.7 GB broadcast,
    // measured 95 s vs 14 s) B wins.
    val wideBytes = candN * (avgSz * 8L + 64L)
    val pick = (d: DataFrame) =>
      if (neededBytes <= verifyBroadcastCap(cand) &&
          wideBytes >= 2L * neededBytes) broadcast(d)
      else d.hint("shuffle_hash")
    cand
      .join(pick(needed)
              .select(col("id").as("id_a"), col("hs").as("set_a"),
                      col("sz").as("sz_a")), "id_a")
      .join(pick(needed)
              .select(col("id").as("id_b"), col("hs").as("set_b"),
                      col("sz").as("sz_b")), "id_b")
  }

  private[dedup] def verifyPairs(cand0: DataFrame, sets: DataFrame,
                                 tau: Double): DataFrame = {
    // PIN the candidate frame: it feeds five plan branches below (the
    // id-collect union twice, each payload join's semi-reduce, and the
    // verify stream itself), and AQE does NOT reuse exchanges across
    // its independently materialized stages when the subtree reads an
    // InMemoryRelation — measured on q_remove_contained: the UNpinned
    // candidate join re-executed 5× (10 duplicate map stages, ~60% of
    // the query's task time). Candidates are narrow id pairs, so the
    // cache is small by the same bound that makes the operator scale.
    val cand = graft.CacheScope.pin(cand0)
    joinPayloads(cand, sets)
      .withColumn("common", ShingleExpressions.sortedLongIntersectCount(
        col("set_a"), col("set_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"),
              round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram-Jaccard similarity self-join via prefix filtering.
    * Output: (id_a < id_b, jaccard ≥ tau), jaccard rounded to 6.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, tau: Double = 0.8): DataFrame =
    ngramJaccardPairsFromSets(hashedSets(docs, idCol, textCol, n), tau)

  /** Same join over a pre-built (id, hs, sz) sets frame — lets a pipeline
    * that already pinned hashed sets (CorpusPipeline) share one
    * materialization instead of re-shingling. `sets` should be persisted
    * by the caller.
    */
  def ngramJaccardPairsFromSets(sets: DataFrame, tau: Double): DataFrame = {
    val postings = sets.select(col("id"), col("sz"),
                               explode(col("hs")).as("sh"))
    // global shingle document-frequency = the prefix ordering key (any
    // consistent total order is lossless; (df, hash) shuffles 8-byte keys
    // instead of strings). Deliberately groupBy+join rather than
    // count() OVER (PARTITION BY sh): the window form saves one exchange
    // locally but must BUFFER each shingle's whole postings group in one
    // task — a boilerplate shingle present in most of a 100 TB corpus
    // would pin millions of rows in a single WindowExec with no map-side
    // combine and no AQE skew splitting. The aggregate has partial
    // combine and the join streams, so hot shingles stay safe.
    val freq = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = postings.join(freq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("df").asc, col("sh").asc)))
      // +1e-9 before the floor: 1.0-0.8 is 0.1999…96 in FP, so an
      // UNguarded floor((1-τ)·sz) under-computes by 1 whenever (1-τ)·sz
      // is mathematically integral (τ=0.8, sz any multiple of 5) — a
      // one-short prefix silently DROPS true pairs sitting exactly at
      // J = τ. The guard can only lengthen the prefix (keeps extras,
      // never loses) — same safe direction as the other bounds' guards.
      .filter(col("rn") <=
        floor(lit(1.0 - tau) * col("sz") + lit(1e-9)).cast("int") + 1)
      .select("id", "sh", "sz", "rn")
      // Self-joined below: compute the window once (evictable cache).
      // Deliberately NOT pre-partitioned on the join key: at bench scale
      // AQE broadcasts this frame for the self-join (an exchange here is
      // pure overhead), and at SMJ scale the two sides' exchanges are
      // identical so ReuseExchange already collapses them to one.
      .transform(graft.CacheScope.pin)
    // length filter: J(A,B) ≥ τ forces τ·|B| ≤ |A| ≤ |B|/τ — prunes
    // size-mismatched candidates before the expensive verify.
    //
    // positional filter (PPJoin-style): both sets are ordered by the SAME
    // global (df, sh) total order, and rn is the matching shingle's
    // position in that order. Common elements strictly before the match ≤
    // min(rn_a, rn_b) − 1, strictly after ≤ min(sz_a−rn_a, sz_b−rn_b), so
    //   |A∩B| ≤ min(rn_a, rn_b) + min(sz_a−rn_a, sz_b−rn_b)
    // while J ≥ τ needs |A∩B| ≥ τ/(1+τ)·(sz_a+sz_b). Candidates whose
    // match position makes that impossible never reach the verify join —
    // lossless, and it prunes where the length filter can't (same-size
    // docs whose shared shingle sits deep in one prefix). The 1e-9 guard
    // keeps FP rounding of τ/(1+τ) from pruning an exact-boundary pair.
    val overlapBound =
      least(col("a.rn"), col("b.rn")) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
    val minOverlap =
      lit(tau / (1.0 + tau)) * (col("a.sz") + col("b.sz")) - lit(1e-9)
    // indexing-prefix filter (PPJoin's asymmetric prefix): for J ≥ τ the
    // FIRST shared shingle (in the global order) sits within the probing
    // prefix of the LARGER set (len sz−⌈τ·sz⌉+1 — what `prefix` already
    // keeps for both sides) AND within the SHORTER indexing prefix of the
    // SMALLER set (len sz−⌈2τ/(1+τ)·sz⌉+1): the required overlap
    // α = ⌈τ/(1+τ)(sz_a+sz_b)⌉ is ≥ 2τ/(1+τ)·min(sz) because the other
    // side is at least as large. Requiring the smaller side's match rank
    // inside its indexing prefix is therefore lossless, and shrinks that
    // side's effective prefix from (1−τ)·sz to (1−τ)/(1+τ)·sz — at τ=0.7
    // a 42% cut of the candidate-generating tokens. The 1e-9 guard keeps
    // an FP-exact ⌈c·sz⌉ boundary from over-shortening the prefix.
    val c = 2.0 * tau / (1.0 + tau)
    def indexLen(sz: Column): Column =
      sz - ceil(lit(c) * sz - lit(1e-9)) + 1
    val inIndexPrefix =
      when(col("a.sz") <= col("b.sz"),
           col("a.rn") <= indexLen(col("a.sz")))
        .otherwise(col("b.rn") <= indexLen(col("b.sz")))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
            col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
              col("a.sz") >= lit(tau) * col("b.sz") - lit(1e-9) &&
              col("b.sz") >= lit(tau) * col("a.sz") - lit(1e-9) &&
              overlapBound >= minOverlap &&
              inIndexPrefix)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyPairs(cand, sets, tau)
  }

  /** Two-sided (R-S) exact Jaccard join: pairs (a ∈ A, b ∈ B) with
    * J ≥ τ — the INCREMENTAL dedup shape: screen a new crawl batch (B)
    * against the existing curated corpus (A) without recomputing the
    * old-vs-old pairs a self-join would. Same lossless machinery as
    * `ngramJaccardPairsFromSets` (probing prefixes, length-ratio,
    * positional and asymmetric indexing-prefix bounds — the long
    * comments there apply verbatim), with two differences: the global
    * document-frequency order is computed over A ∪ B so both sides'
    * prefixes rank in ONE total order (prefix-filter completeness needs
    * that), and candidates require one side from each input instead of
    * id_a < id_b.
    *
    * Contract: the two inputs' id domains must be disjoint (an id
    * appearing on both sides would merge its postings). Inputs are
    * (id, hs, sz) frames from `hashedSets`. Output: (id_a ∈ A,
    * id_b ∈ B, jaccard), exact. CACHE OWNERSHIP: internally persisted
    * frames released by the caller (CacheScope.capture / clearCache), as
    * elsewhere.
    *
    * `reuseFreq`: a precomputed (sh, df) frame — e.g. `shingleFreq` of
    * the standing corpus, built once and stored — skipping the
    * union-wide posting aggregation that otherwise re-scans the corpus
    * side every batch (the rolling-crawl deployment runs this join per
    * batch against a corpus 1000× the batch). SAFE BY CONSTRUCTION: the
    * prefix filter is lossless under ANY total order of shingles — both
    * sides just have to rank by the SAME one — so a stale or
    * corpus-only df changes the candidate count (rare unseen shingles
    * default to df 0: rarest-first, which is the good direction), never
    * the output pairs. Spec'd equal to the exact-df run in
    * NgramPropertySpec.
    */
  def shingleFreq(sets: DataFrame): DataFrame =
    sets.select(explode(col("hs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))

  def ngramJaccardPairsBetween(setsA: DataFrame, setsB: DataFrame,
                               tau: Double,
                               reuseFreq: Option[DataFrame] = None)
      : DataFrame = {
    val tagged = setsA
      .select(lit(0).as("side"), col("id"), col("hs"), col("sz"))
      .unionByName(setsB
        .select(lit(1).as("side"), col("id"), col("hs"), col("sz")))
      .transform(graft.CacheScope.pin)
    val postings = tagged.select(col("side"), col("id"), col("sz"),
                                 explode(col("hs")).as("sh"))
    val freq = reuseFreq.getOrElse(
      postings.groupBy("sh").agg(count(lit(1)).as("df")))
    // left join: with a reused corpus-side freq, batch-only shingles are
    // absent — coalesce ranks them df=0 (rarest-first). With the exact
    // union-wide freq the join never misses and this is the plain path.
    val prefix = postings.join(freq, Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("side"), col("id"))
          .orderBy(col("df").asc, col("sh").asc)))
      .filter(col("rn") <=
        floor(lit(1.0 - tau) * col("sz") + lit(1e-9)).cast("int") + 1)
      .select("side", "id", "sh", "sz", "rn")
      .transform(graft.CacheScope.pin)
    val overlapBound =
      least(col("a.rn"), col("b.rn")) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
    val minOverlap =
      lit(tau / (1.0 + tau)) * (col("a.sz") + col("b.sz")) - lit(1e-9)
    val c = 2.0 * tau / (1.0 + tau)
    def indexLen(sz: Column): Column =
      sz - ceil(lit(c) * sz - lit(1e-9)) + 1
    val inIndexPrefix =
      when(col("a.sz") <= col("b.sz"),
           col("a.rn") <= indexLen(col("a.sz")))
        .otherwise(col("b.rn") <= indexLen(col("b.sz")))
    val cand = prefix.filter(col("side") === 0).as("a")
      .join(prefix.filter(col("side") === 1).as("b"),
            col("a.sh") === col("b.sh") &&
              col("a.sz") >= lit(tau) * col("b.sz") - lit(1e-9) &&
              col("b.sz") >= lit(tau) * col("a.sz") - lit(1e-9) &&
              overlapBound >= minOverlap &&
              inIndexPrefix)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyPairs(cand, tagged.select(col("id"), col("hs"), col("sz")), tau)
  }

  /** Exact n-gram CONTAINMENT verification: C(a→b) = |a∩b| / |a| ≥ τ,
    * a the CONTAINED side. Same semi-join-reduce + shuffle-hash shape
    * as `verifyPairs` (the long comments there apply).
    */
  private def verifyContainment(cand0: DataFrame, sets: DataFrame,
                                tau: Double): DataFrame = {
    // pin cand + candIds: same 5-branch re-execution as verifyPairs
    // (the long comment there applies verbatim)
    val cand = graft.CacheScope.pin(cand0)
    joinPayloads(cand, sets)
      .withColumn("common", ShingleExpressions.sortedLongIntersectCount(
        col("set_a"), col("set_b")))
      .withColumn("containment",
        col("common").cast("double") / col("sz_a").cast("double"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"),
              round(col("containment"), 6).as("containment"))
  }

  /** Shared candidate generation for the containment joins. `prefixA`
    * carries the CONTAINED side's probing prefixes, `contAll` the
    * container side's FULL ranked postings (both (id, sh, sz, rn) in the
    * same global (df, sh) order); `idCond` is the pair-shape condition
    * (≠ for the self-join, true for disjoint R-S sides).
    */
  private def containmentCandidates(prefixA: DataFrame, contAll: DataFrame,
                                    idCond: Column, tau: Double)
      : DataFrame = {
    // Container postings semi-join-reduce to grams that occur in SOME
    // probing prefix: rarest-first prefixes keep boilerplate grams out of
    // the probe set, so the join shuffles matched-posting volume, never
    // the container side's full gram volume.
    val postB = contAll.join(prefixA.select("sh").distinct(),
                             Seq("sh"), "left_semi")
    // positional filter: any shared gram at ranks (rn_a, rn_b) bounds
    //   |a∩b| ≤ min(rn_a, rn_b) + min(sz_a−rn_a, sz_b−rn_b)
    // (the ngramJaccardPairsFromSets derivation verbatim) while C ≥ τ
    // needs |a∩b| ≥ τ·sz_a; and |a∩b| ≤ min(sz) forces sz_b ≥ τ·sz_a
    // (NO upper bound on sz_b — a tiny doc inside a huge one is the
    // point of the asymmetric measure). 1e-9 guards keep FP rounding of
    // τ·sz from dropping exact-boundary pairs — the safe direction.
    val overlapBound =
      least(col("a.rn"), col("b.rn")) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
    prefixA.as("a")
      .join(postB.as("b"),
            col("a.sh") === col("b.sh") && idCond &&
              col("b.sz") >= lit(tau) * col("a.sz") - lit(1e-9) &&
              overlapBound >= lit(tau) * col("a.sz") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The contained side's probing prefix bound: if |a∩b| ≥ ⌈τ·sz⌉, at
    * most sz − ⌈τ·sz⌉ of a's grams precede its first shared gram in the
    * global order, so that gram sits within the first sz − ⌈τ·sz⌉ + 1.
    * The 1e-9 guard can only LENGTHEN the prefix (keeps extras, never
    * loses) when τ·sz is mathematically integral.
    */
  private def containPrefixBound(tau: Double): Column =
    col("sz") - ceil(lit(tau) * col("sz") - lit(1e-9)).cast("int") + 1

  /** Exact n-gram CONTAINMENT self-join: directed pairs (a, b), a ≠ b,
    * with C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ τ. The
    * asymmetric near-dup measure: a short document wholly quoted inside
    * a much longer one scores C ≈ 1 where Jaccard ≈ |a|/|b| ≈ 0 — the
    * pairs a J-threshold dedup structurally CANNOT see. Both directions
    * are reported when both hold (symmetric near-dups appear twice, once
    * per direction — the direction tells which doc is the quotee).
    *
    * Prefix filtering adapts to the asymmetry: only the CONTAINED side
    * prefix-filters (first shared gram within sz − ⌈τ·sz⌉ + 1 of its
    * rarest-first order); the container side cannot be length-bounded
    * (its matching grams sit arbitrarily deep), so it is instead
    * semi-join-reduced to the probe set's grams. All bounds lossless —
    * q_containment_join is oracle-exact against the plain quadratic SQL.
    *
    * Input: a pre-built (id, hs, sz) sets frame from `hashedSets` — one
    * materialization can be shared (`removeContained` reuses the sets
    * for pair search AND size lookup; the jaccard twin is
    * `ngramJaccardPairsFromSets`). `sets` should be persisted by the
    * caller (hashedSets does).
    *
    * Output: (id_a contained, id_b container, containment round 6).
    * CACHE OWNERSHIP: as elsewhere (CacheScope).
    */
  def containmentPairsFromSets(sets: DataFrame, tau: Double): DataFrame =
    containmentPairsImpl(sets, tau, col("a.id") =!= col("b.id"))

  /** Self-join containment machinery with a caller-chosen pair-shape
    * condition `idCond` (≠ for the symmetric report; a size-order
    * predicate for `removeContained`, where only one direction can ever
    * act — generating the dead direction just to drop it post-verify
    * would double candidate AND verify volume).
    */
  private def containmentPairsImpl(sets: DataFrame, tau: Double,
                                   idCond: Column): DataFrame = {
    val postings = sets.select(col("id"), col("sz"),
                               explode(col("hs")).as("sh"))
    val freq = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = postings.join(freq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("df").asc, col("sh").asc)))
      .select("id", "sh", "sz", "rn")
      .transform(graft.CacheScope.pin)
    val cand = containmentCandidates(
      ranked.filter(col("rn") <= containPrefixBound(tau)), ranked,
      idCond, tau)
    verifyContainment(cand, sets, tau)
  }

  /** Two-sided (R-S) containment join: every (a ∈ A, b ∈ B) with
    * C(a→b) = |a∩b|/|a| ≥ τ, A the CONTAINED side — the quote-detection
    * deployment shape: screen a snippet/eval/benchmark side (A) for
    * verbatim-ish inclusion inside corpus documents (B) at gram
    * granularity, where `contamination` counts raw shared grams and
    * `sharedSpansBetween` demands positional adjacency. Same machinery
    * as `containmentPairsFromSets`; the global df order is computed
    * over A ∪ B so both sides rank consistently (any ONE total order is
    * lossless).
    * Contract: disjoint id domains, inputs from `hashedSets`.
    */
  def containmentJoin(setsA: DataFrame, setsB: DataFrame,
                      tau: Double): DataFrame = {
    val tagged = setsA
      .select(lit(0).as("side"), col("id"), col("hs"), col("sz"))
      .unionByName(setsB
        .select(lit(1).as("side"), col("id"), col("hs"), col("sz")))
      .transform(graft.CacheScope.pin)
    val postings = tagged.select(col("side"), col("id"), col("sz"),
                                 explode(col("hs")).as("sh"))
    val freq = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = postings.join(freq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("side"), col("id"))
          .orderBy(col("df").asc, col("sh").asc)))
      .select("side", "id", "sh", "sz", "rn")
      .transform(graft.CacheScope.pin)
    val cand = containmentCandidates(
      ranked.filter(col("side") === 0 &&
                    col("rn") <= containPrefixBound(tau)),
      ranked.filter(col("side") === 1), lit(true), tau)
    verifyContainment(cand, tagged.select(col("id"), col("hs"), col("sz")),
                      tau)
  }

  /** The containment-dedup ACTION: drop every document gram-contained
    * (C(a→b) ≥ τ) in a LARGER document — the quotee loses, the host
    * survives. "Larger" is the strict total order (sz, -id): a doc is
    * removed iff SOME container beats it in that order, so mutual
    * containments (exact/near-exact dups) keep exactly the larger-or-
    * lower-id member, and the rule is one non-iterative pass (the
    * greedy-by-size containment dedup; a chain A⊆B⊆C drops A and B —
    * each has a strictly larger container — and keeps C). Returns the
    * surviving docs frame (all original columns).
    *
    * Scale shape: `containmentPairsFromSets` bounds the pair search
    * (prefix + semi-join-reduce); the removal set is a narrow id
    * anti-join.
    *
    * Measured at sf0.1 (q_containment_join's corpus: documents plus
    * re-keyed snippets), so the next optimization attempt does not
    * repeat them:
    *  1. Hash-order prefixes (rank = position in the sorted hs array,
    *     no rank shuffle) explode candidates 119k → 4.4M and the query
    *     13 s → 158 s. The df rarest-first order IS the operator's scale
    *     story; keep it.
    *  2. The positional overlapBound prunes only ~0.2% of candidates
    *     here (119,180 vs 119,403 without), but costs nothing extra,
    *     since the ranked frame serves both join roles.
    *  3. Warm stage budget: freq 2.0 + rank window 2.7 + container-side
    *     semi-join 1.7 + candidates 1.8 + verify 3.4 s. Two different
    *     shuffle keys (sh for df, id for rank) make the rank machinery
    *     irreducible below ~4.5 s at this fixed job latency.
    */
  def removeContained(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 12, tau: Double = 0.9): DataFrame = {
    // ONE shingling pass: the persisted sets frame feeds the pair
    // search AND the size lookups (re-shingling for sizes measured ~4 s
    // of the 10 s q_remove_contained at sf0.1 before this reuse).
    // The strict size order (sz, -id) — only a strictly-"larger"
    // container can remove — is pushed INTO the candidate join as the
    // pair-shape condition: the larger→smaller direction is never
    // generated or verified (halves candidate+verify volume vs
    // searching symmetric pairs and filtering after; sf0.1 wall-clock
    // is dominated by the fixed shingle/rank machinery, so the win
    // there is modest, but candidate volume is THE scale driver on a
    // corpus where verify dominates).
    val sets = hashedSets(docs, idCol, textCol, n)
    val sizeOrder = col("b.sz") > col("a.sz") ||
      (col("b.sz") === col("a.sz") && col("b.id") < col("a.id"))
    val removed = containmentPairsImpl(sets, tau, sizeOrder)
      .select(col("id_a").as(idCol)).distinct()
    docs.join(removed, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: per corpus doc, the number of DISTINCT
    * character n-grams it shares with ANY benchmark doc (≥ `minShared`
    * to appear). A training pipeline runs this corpus-vs-eval-set before
    * training: docs quoting benchmark items verbatim inflate eval scores
    * and must be dropped (the n here is long — ~a sentence — so chance
    * collisions vanish and only real quotation flags).
    *
    * Scale shape: the benchmark's gram set is tiny next to a 100 TB
    * corpus (eval suites are MBs), so the join broadcasts the benchmark
    * hashes and the corpus is never shuffled — grams stream out of the
    * scan as 8-byte xxhash64s (ShingleExpressions.shingleHashes emits
    * per-doc distinct hashes in place, no string materialization), the
    * count aggregates with map-side combine on the doc id.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int,
                    minShared: Long = 1L): DataFrame = {
    val benchGrams = benchmark
      .select(explode(ShingleExpressions.shingleHashes(col(textCol), n))
        .as("sh"))
      .distinct()
    val corpusGrams = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
                   col(idCol)) // single-file inputs: spread the scan
      .select(col(idCol),
              explode(ShingleExpressions.shingleHashes(col(textCol), n))
                .as("sh"))
    // per-doc hashes are already distinct, so count(*) after the gram
    // join IS the distinct shared-gram count
    corpusGrams.join(broadcast(benchGrams), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Streaming twin of `contamination`: flag-on-ingest, STATELESS. The
    * batch form's explode→join→groupBy needs shuffles and (on a stream)
    * watermarked aggregation state; here the static benchmark gram set
    * folds into ONE sorted-array row (the same fold ivfTrain uses for
    * its codebook) that cross-joins in by broadcast — a stream-static
    * join with a single static row — and the per-doc shared-gram count
    * is one linear merge pass of the native SortedLongIntersectCount
    * over the doc's (sorted, distinct) shingle hashes. No state, no
    * watermark, no shuffle on the stream side, so it composes with any
    * ingest pipeline stage. Works identically on a batch frame (spec
    * pins it set-equal to `contamination`).
    *
    * Scale note: one row of 8-byte hashes bounds the broadcast at
    * ~8 MB per million benchmark grams — eval suites fit with room to
    * spare; a benchmark too big for that belongs in the batch path.
    */
  def contaminationStream(docs: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          minShared: Long = 1L): DataFrame = {
    val bench = benchmark
      .select(explode(ShingleExpressions.shingleHashes(col(textCol), n))
        .as("sh"))
      .distinct()
      .agg(sort_array(collect_list(col("sh"))).as("__bench"))
    docs
      .crossJoin(broadcast(bench))
      .select(col(idCol),
              ShingleExpressions.sortedLongIntersectCount(
                ShingleExpressions.shingleHashes(col(textCol), n),
                col("__bench")).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** OR-fold a column of long hashes into ONE broadcastable Bloom row.
    * `shards = 1` (default): a single bitset (col __bloom:
    * array<bigint>, probe with bloom_hit_count). `shards = S > 1`:
    * elements partition by pmod(hash, S) into S independently-sized
    * sub-filters folded as array<array<bigint>> (probe with
    * bloom_hit_count_sharded) — each sub-filter stays inside the
    * single-ByteBuffer serialization bound, so capacity scales to
    * S × ~1.7e9 elements at 10 bits/element (the contaminationScreened
    * ceiling, lifted). Empty shards materialize as all-zero bitsets so
    * the probe's positional indexing is always complete; fpp matches
    * the unsharded filter when pmod spreads elements evenly (any
    * decent 64-bit hash does).
    */
  private[graft] def bloomFold(hashed: DataFrame, hashCol: String, m: Long,
                               bitsPerElem: Int, k: Int,
                               shards: Int): DataFrame = {
    import graft.functions.BloomExpressions
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    if (shards == 1) {
      val numBits = math.max(64L, ((m * bitsPerElem + 63L) / 64L) * 64L)
      hashed.agg(
        BloomExpressions.bloomAgg(col(hashCol), numBits, k).as("__bloom"))
    } else {
      val perElems = (m + shards - 1) / shards
      val perBits = math.max(64L, ((perElems * bitsPerElem + 63L) / 64L) * 64L)
      val nWords = (perBits / 64L).toInt
      val sub = hashed
        .groupBy(pmod(col(hashCol), lit(shards.toLong)).as("__shard"))
        .agg(BloomExpressions.bloomAgg(col(hashCol), perBits, k).as("__w"))
      hashed.sparkSession.range(shards)
        .select(col("id").as("__shard"))
        .join(sub, Seq("__shard"), "left_outer")
        .select(col("__shard"),
                coalesce(col("__w"), array_repeat(lit(0L), lit(nWords)))
                  .as("__w"))
        .agg(transform(
               array_sort(collect_list(struct(col("__shard").as("s"),
                                              col("__w").as("w")))),
               e => e.getField("w")).as("__bloom"))
    }
  }

  /** Corpus-vs-corpus decontamination with a BLOOM SCREEN — the shape
    * `contamination` takes when the reference side is itself too big
    * for a precise broadcast (another corpus, a web-scale blocklist:
    * 10⁹ grams = 8 GB of sorted hashes vs ~1.2 GB of Bloom bits at
    * k=7, 10 bits/gram ≈ 1% fpp). Two phases:
    *
    *  1. SCREEN (zero corpus shuffle): the reference gram set OR-folds
    *     into one Bloom bitset row (distributed build — map-side
    *     partial bitsets merge by OR, the elements never collect
    *     anywhere), broadcast; each corpus doc counts its gram hits
    *     against the bits in one codegen'd pass. No false negatives,
    *     so docs below `minShared` hits are PROVABLY clean and exit
    *     here — at real contamination rates that is 99%+ of the corpus.
    *  2. VERIFY (exact, candidates only): surviving docs re-join their
    *     grams against the true reference gram set — a shuffle join
    *     bounded by candidate volume, NOT corpus volume — removing the
    *     screen's false positives.
    *
    * Result ≡ `contamination(corpus, reference, ...)` exactly; the
    * Bloom parameters trade only intermediate candidate volume. The
    * filter is sized from a one-number count action (`bitsPerGram` ×
    * distinct grams, rounded up to words); fpp ≈ (1−e^(−k/bits))^k ≈
    * 0.8% at the defaults.
    *
    * Ceiling: each bitset serializes as ONE Int-sized ByteBuffer
    * (`Bloom.MaxWords` ≈ 2.7e8 words ⇒ ~1.7e10 bits), which at the
    * default 10 bits/gram bounds an UNSHARDED filter at ~1.7e9
    * distinct grams — `BloomFilterAgg` throws at construction past
    * that. Past the bound, pass `shards = S`: elements partition by
    * pmod(hash, S) into S independently-bounded sub-filters
    * (bloomFold), probed by the sharded native expression in the same
    * zero-shuffle pass — capacity S × 1.7e9 grams at unchanged fpp
    * (~10¹¹ at S=64). Alternatively lower `bitsPerGram` (more
    * verify-join traffic, same exact result — fpp at 5 bits/gram, k=3
    * is ~10%).
    */
  def contaminationScreened(corpus: DataFrame, reference: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            minShared: Long = 1L, bitsPerGram: Int = 10,
                            k: Int = 7, shards: Int = 1): DataFrame = {
    import graft.functions.BloomExpressions
    // the reference gram set is persisted: it feeds the sizing count,
    // the bitset build and the exact verify
    val refGrams = reference
      .select(explode(ShingleExpressions.shingleHashes(col(textCol), n))
        .as("sh"))
      .distinct()
      .transform(graft.CacheScope.pin)
    // one scalar action sizes the filter
    val m = math.max(refGrams.count(), 1L)
    val bloom = bloomFold(refGrams, "sh", m, bitsPerGram, k, shards)
    val gramHashes = ShingleExpressions.shingleHashes(col(textCol), n)
    val hits =
      if (shards == 1)
        BloomExpressions.bloomHitCount(gramHashes, col("__bloom"), k)
      else
        BloomExpressions.bloomHitCountSharded(gramHashes, col("__bloom"), k)
    val cand = corpus
      .crossJoin(broadcast(bloom))
      .filter(hits >= minShared)
      .select(col(idCol), col(textCol))
    cand
      .select(col(idCol),
              explode(ShingleExpressions.shingleHashes(col(textCol), n))
                .as("sh"))
      .join(refGrams, "sh") // NOT broadcast: the reference is big by premise
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** WITHIN-document duplicate-line removal — the intra-doc twin of
    * `lineDedup` (which needs corpus-wide state; repeated lines INSIDE
    * one document — scraped nav menus, pagination artifacts, the thing
    * `dupLineFraction` gates on — need none). Keeps each distinct
    * line's FIRST occurrence, preserves order, reassembles. A pure
    * narrow projection: array ops per row, ZERO shuffles, stacks
    * inside the scan's codegen stage. The first-index test is
    * O(lines²) per doc — lines per document are bounded small in
    * practice, and the quadratic never leaves the row.
    *
    * Returns every doc as (id, n_lines, n_removed, clean_text) — the
    * lineDedup schema, so the two compose/report identically.
    */
  def dedupLinesWithin(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    // keep line i iff its first occurrence index is i (array_position
    // is 1-based; the filter lambda index is 0-based)
    val kept = filter(lines, (l, i) =>
      array_position(lines, l) === i.cast("long") + 1L)
    docs.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(kept)).cast("long").as("n_removed"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Heavy-hitter n-grams by document frequency — boilerplate DISCOVERY
    * (lineDedup removes known whole-line repeats; this FINDS the
    * repeated fragments, whatever their framing) via a count–min sketch
    * screen. Exact group-counting every distinct gram of a 100 TB corpus
    * shuffles the full gram stream; here nothing unbounded ever
    * shuffles:
    *
    *  1. one scan pass folds gram hashes into a depth×width CMS
    *     (tiny, broadcast);
    *  2. a second scan keeps only grams whose ESTIMATE ≥ minDf and
    *     group-counts the survivors directly. The estimate filter is
    *     DETERMINISTIC PER GRAM VALUE (all occurrences pass or none
    *     do), so the surviving count IS the true document frequency —
    *     counting the screened stream is itself the exact verify, no
    *     third candidate-join pass needed. CMS never undercounts, so
    *     the screened set is a superset of the true heavy set and the
    *     final ≥ minDf filter on exact counts removes the impostors.
    *
    * Result is EXACT — the sketch only prunes; its parameters trade
    * intermediate (shuffled) candidate volume, never correctness.
    * Per-doc-distinct grams (the `shingles` contract) make count =
    * document frequency.
    *
    * SIZE `width` TO THE CORPUS — it is a real cost, not a free safety
    * margin: every task serializes a depth×width×4-byte partial buffer
    * into the single-row aggregate (tasks × depth × width × 4 B of
    * shuffle+merge for the sketch alone), so an oversized width DOMINATES
    * small-corpus runtime (measured: width 2²⁰ ⇒ 16 MB/partial ⇒ ~6 s at
    * sf0.1; width 2¹⁷ right-sized to its ~131k distinct grams ⇒ ~1.7 s,
    * identical output). Rule: width ≈ expected distinct grams (load
    * factor ~1 per row; the depth-way min absorbs collisions), i.e.
    * 2²⁰⁺ only once the corpus actually carries millions of distinct
    * grams — at which point the 16 MB partials are noise against the
    * scan.
    */
  def heavyGrams(docs: DataFrame, idCol: String, textCol: String, n: Int,
                 minDf: Long, depth: Int = 4,
                 width: Int = 1 << 20): DataFrame = {
    import graft.functions.CmsExpressions
    val spread = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
                   col(idCol)) // single-file inputs: spread the scan
    // SKETCH pass: hash the windows IN PLACE (ShingleHashes — xxhash64
    // at seed 42 over each window's UTF-8 bytes, the exact value
    // xxhash64(gram) computes below, spec-pinned equal) — the corpus's
    // gram STRINGS never materialize on this pass, only 8-byte longs.
    // Deliberately NOT persisted: the exploded stream is corpus-sized —
    // re-scanning the (column-pruned) source beats materializing it.
    val sketch = spread
      .select(explode(
        graft.functions.ShingleExpressions.shingleHashes(col(textCol), n))
        .as("h"))
      .agg(CmsExpressions.cmsAgg(col("h"), depth, width).as("__cms"))
    // PROBE pass: gram strings must materialize here (they ARE the
    // output); survivors of the no-undercount screen group-count exactly
    spread
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .crossJoin(broadcast(sketch))
      .filter(CmsExpressions.cmsEstimate(col("__cms"), xxhash64(col("gram")),
                                         depth, width) >= minDf)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** MinHash+LSH near-dup pairs: band the signature (b bands × r rows),
    * bucket-join on (band, hash(band slice)), then exact-Jaccard verify.
    * Same output contract as ngramJaccardPairs; at τ=0.8, k=32, b=8 the
    * per-pair miss probability is (1−s⁴)⁸ < 2% at s=0.8 and < 10⁻⁴ at
    * s≥0.93.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, k: Int = 32, bands: Int = 8,
                      tau: Double = 0.8, maxBucket: Long = 0L): DataFrame =
    minhashLshPairsFromSets(hashedSets(docs, idCol, textCol, n),
                            k, bands, tau, maxBucket)

  /** The LSH pair join over PRE-BUILT hashed shingle sets (id, hs, sz) —
    * lets a pipeline that already paid the shingling pass (e.g.
    * CorpusPipeline.curate's shared enrichment frame) band and verify
    * without re-scanning documents. `minhashLshPairs` is this over
    * `hashedSets`.
    *
    * `maxBucket` is the hot-bucket cap (the `sharedSpans.maxDf`
    * analog): a band bucket wider than the cap is dropped BEFORE the
    * self-join. A near-identical boilerplate cluster of f docs
    * collides in the SAME bucket of every band, costing O(bands·f²)
    * candidate pairs — the one quadratic the banding bound does not
    * control, and at crawl scale f reaches millions. The trade is
    * explicit and one-sided: a pair is lost only if EVERY band where
    * it collides is hot (for same-cluster pairs that is exactly the
    * boilerplate family a pipeline dedups by fingerprint or cluster
    * election instead); any pair sharing one sub-cap bucket survives,
    * and every emitted pair is still exact-verified. Default 0 = no
    * cap, the oracle-checked contract.
    */
  def minhashLshPairsFromSets(sets: DataFrame, k: Int, bands: Int,
                              tau: Double,
                              maxBucket: Long = 0L): DataFrame = {
    val bucketed0 = lshBuckets(sets, k, bands)
    val bucketed =
      if (maxBucket <= 0L) bucketed0
      else {
        // hot buckets are FEW by definition (≤ postings/cap rows
        // survive the width filter) — broadcast anti-join, the maxDf
        // shape
        val hot = bucketed0.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("__w"))
          .filter(col("__w") > maxBucket)
          .select(col("band"), col("bh"))
        bucketed0.join(broadcast(hot), Seq("band", "bh"), "left_anti")
      }
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyPairs(cand, sets, tau)
  }

  /** LSH geometry tuning harness — the lexical twin of the ANN side's
    * `annEval`: for each banding config (bands over a fixed k-slot
    * signature), measure what that geometry actually buys at threshold
    * τ on THIS corpus: candidate-pair volume (the cost driver — every
    * candidate is one exact verify), verified-pair count, recall
    * against the exact-Jaccard truth (`ngramJaccardPairsFromSets`,
    * computed ONCE and shared), and candidate precision. More bands
    * (shorter rows) ⇒ more candidates and recall ↑ — the grid makes the
    * price of each recall point visible, the "which geometry do I ship"
    * signal every dedup deployment needs before burning a 100 TB pass.
    *
    * Verified pairs are exact-verified, so verified ⊆ truth always and
    * recall = n_verified / n_truth; a 0-truth corpus reports recall 1.0
    * (nothing to find ⇒ nothing missed), precision on 0 candidates
    * likewise. Everything composes lazily into ONE returned frame: per
    * config two count aggregates (candidates, survivors), the truth
    * count cross-joined in as one broadcast row. `sets` should come
    * from `hashedSets` (persisted) — each config re-bands the cached
    * sets, never re-shingles.
    */
  def lshEval(sets: DataFrame, k: Int, bandsGrid: Seq[Int],
              tau: Double): DataFrame = {
    require(bandsGrid.nonEmpty && bandsGrid.forall(b => k % b == 0),
      s"every bands value must divide k=$k (got $bandsGrid)")
    val spark = sets.sparkSession
    import spark.implicits._
    val grid = bandsGrid.distinct
    val truth = ngramJaccardPairsFromSets(sets, tau)
      .agg(count(lit(1)).as("n_truth"))
    // ONE k-permutation signing pass serves the WHOLE grid: every
    // config's banding is a projection of the same in-flight signature
    // row (multiBandPostings), so the dominant per-config compute —
    // the k-hash pass over every shingle array — is paid once, and one
    // self-join keyed by (cfg, band, bh) produces every config's
    // candidates together. No cache boundary on the signatures (the
    // r6 share-the-signatures lesson): the multi-banding explode stays
    // fused with the signing projection. (r6 had measured the
    // pin-the-signatures variant slower; THIS form keeps the fusion
    // and still de-duplicates the signing — measured faster than both.)
    val bucketed = multiBandPostings(minhashSignatures(sets, k), k, grid)
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
            col("a.cfg") === col("b.cfg") &&
              col("a.band") === col("b.band") &&
              col("a.bh") === col("b.bh") &&
              col("a.id") < col("b.id"))
      .select(col("a.cfg").as("cfg"),
              col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .transform(graft.CacheScope.pin)
    // grid configs overlap heavily in candidates: exact-verify each
    // DISTINCT pair once and attribute per config afterwards — the
    // Jaccard work scales with the candidate UNION, not the grid sum
    val ver = verifyPairs(
        cand.select(col("id_a"), col("id_b")).distinct(), sets, tau)
      .select(col("id_a"), col("id_b"))
    val counts = cand.groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"))
    val verified = cand.join(ver, Seq("id_a", "id_b"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_verified"))
    grid.toDF("cfg") // a config with zero candidates still reports
      .join(counts, Seq("cfg"), "left_outer")
      .join(verified, Seq("cfg"), "left_outer")
      .select(lit(k).as("k"), col("cfg").as("bands"),
              (lit(k) / col("cfg")).cast("int").as("r"),
              coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
              coalesce(col("n_verified"), lit(0L)).as("n_verified"))
      .crossJoin(broadcast(truth))
      .withColumn("recall",
        round(when(col("n_truth") === 0, 1.0)
          .otherwise(col("n_verified").cast("double") / col("n_truth")), 6))
      .withColumn("precision",
        round(when(col("n_candidates") === 0, 1.0)
          .otherwise(col("n_verified").cast("double") /
            col("n_candidates")), 6))
  }

  /** Band postings for EVERY banding config of one signature frame in
    * a single projection: (id, cfg, band, bh) where cfg is the config's
    * band count — the lshEval grid's shared signing pass.
    */
  private def multiBandPostings(sig: DataFrame, k: Int,
                                grid: Seq[Int]): DataFrame = {
    require(grid.nonEmpty && grid.forall(b => b >= 1 && k % b == 0),
      s"every band count must divide k=$k, got $grid")
    val structs = array(grid.flatMap { bands =>
      val r = k / bands
      (0 until bands).map(b =>
        struct(lit(bands).as("cfg"), lit(b).as("band"),
               xxhash64(slice(col("sig"), b * r + 1, r)).as("bh")))
    }: _*)
    sig.select(col("id"), explode(structs).as("bb"))
      .select(col("id"), col("bb.cfg").as("cfg"),
              col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH band postings (id, band, bh) for a hashed-sets frame — the
    * banding step shared by `minhashLshPairsFromSets` and the persisted
    * `MinhashIndex`. Docs with EMPTY shingle sets are excluded before
    * banding: an empty doc's signature is k MaxValue slots that
    * collides in EVERY band with every other empty doc (O(empties²)
    * candidates, all dropped by verify anyway), and it can never reach
    * jaccard ≥ τ.
    */
  private[dedup] def lshBuckets(sets: DataFrame, k: Int,
                                bands: Int): DataFrame =
    bandPostings(minhashSignatures(sets, k), k, bands)

  /** (id, sig) MinHash signatures — banding-independent, so a geometry
    * sweep (`lshEval`) computes them ONCE and re-bands per config
    * instead of re-running the k-permutation pass per grid point.
    * Docs with EMPTY shingle sets are excluded before signing: an empty
    * doc's signature is k MaxValue slots that collides in EVERY band
    * with every other empty doc (O(empties²) candidates, all dropped by
    * verify anyway), and it can never reach jaccard ≥ τ.
    */
  private[dedup] def minhashSignatures(sets: DataFrame, k: Int): DataFrame =
    sets.filter(col("sz") > 0).select(col("id"),
      ShingleExpressions.minhashSigFromHashes(col("hs"), k).as("sig"))

  /** Band postings (id, band, bh) for a signature frame — the
    * single-config projection of `multiBandPostings` (ONE banding
    * definition: a change to the slice/hash convention cannot diverge
    * the index from the geometry sweep).
    */
  private[dedup] def bandPostings(sig: DataFrame, k: Int,
                                  bands: Int): DataFrame =
    multiBandPostings(sig, k, Seq(bands)).drop("cfg")

  /** The REMOVAL action for `sharedSpans` (the Lee et al. dedup step):
    * cut every shared span out of the HIGHER-id document of its pair —
    * the lowest-id occurrence survives, the engine's canonical-min
    * convention everywhere. Returns only AFFECTED documents as
    * (id, removed_chars, clean_text).
    *
    * Relational shape, no per-row loops anywhere:
    *  1. a doc's cut set = its id_b-side spans as [start, end)
    *     intervals; overlapping/adjacent intervals MERGE via the
    *     classic running-max-end island window (per-doc groups, bounded
    *     by that doc's span count);
    *  2. the kept text is the COMPLEMENT, materialized as segment ROWS
    *     (before each merged interval via lag, plus the tail), then
    *     spliced back in order inside one aggregate — sort_array over
    *     (from, to) structs, transform to substrings, array_join. The
    *     document bytes ride exactly one hash exchange (the groupBy on
    *     id, text).
    */
  def removeSharedSpans(docs: DataFrame, spans: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val iv = spans.select(
      col("id_b").as(idCol),
      col("start_b").cast("long").as("s"),
      (col("start_b") + col("span_len")).cast("long").as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv
      .withColumn("ni",
        when(col("s") > coalesce(prevMax, lit(0L)), 1).otherwise(0))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
    val wm = Window.partitionBy(col(idCol)).orderBy(col("ms"))
    // complement: the gap BEFORE each merged interval, plus the tail
    // after the last one (to = null ⇒ end of string, resolved once the
    // text is in scope)
    val segs = merged
      .withColumn("from", coalesce(lag(col("me"), 1).over(wm), lit(1L)))
      .select(col(idCol), col("from"), col("ms").as("to"))
      .unionByName(
        merged.groupBy(col(idCol))
          .agg(max(col("me")).as("from"))
          .withColumn("to", lit(null).cast("long")))
    docs.select(col(idCol), col(textCol))
      .join(segs, idCol)
      .groupBy(col(idCol), col(textCol))
      .agg(array_join(
             transform(
               array_sort(collect_list(struct(col("from"), col("to")))),
               seg => substring(col(textCol),
                 seg.getField("from").cast("int"),
                 (coalesce(seg.getField("to"),
                           length(col(textCol)).cast("long") + 1) -
                   seg.getField("from")).cast("int"))),
             "").as("clean_text"))
      .select(col(idCol),
              (length(col(textCol)) - length(col("clean_text")))
                .cast("long").as("removed_chars"),
              col("clean_text"))
  }

  /** (id, pos, hash) positional gram stream — the anchor input. */
  private def posGrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      posexplode(ShingleExpressions.shingleHashesPos(col(textCol), n))
        .as(Seq("pos", "sh")))

  /** Anchor matches → maximal spans: gaps-and-islands per (pair,
    * diagonal), shared by the self-join and corpus-vs-benchmark modes.
    * `anchors` must carry (id_a, id_b, pa, diag = pa − pb).
    */
  private def spansFromAnchors(anchors: DataFrame, n: Int,
                               minLen: Int): DataFrame = {
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    anchors
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(min(col("pa")).as("pa0"), count(lit(1)).as("run"))
      .select(col("id_a"), col("id_b"),
              (col("pa0") + 1).as("start_a"),
              (col("pa0") - col("diag") + 1).as("start_b"),
              (col("run") + (n - 1)).as("span_len"))
      .filter(col("span_len") >= minLen)
  }

  /** Cross-document exact-substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr mode, re-expressed relationally): find every maximal
    * verbatim character span of length ≥ `minLen` shared between two
    * DISTINCT documents — the contamination shape document-level dedup
    * cannot see (boilerplate, quotations, mirrored passages inside
    * otherwise-different documents).
    *
    * Relational reformulation of the paper's suffix-array walk:
    *  1. ANCHOR — every n-char window becomes (id, pos, xxhash64) via
    *     the positional ShingleHashesPos (zero string materialization;
    *     reference dedups whole rows only, dags/__pycache__ legacy ETL —
    *     this is north-star extension scope). Equal hashes across
    *     distinct docs are anchor matches.
    *  2. DIAGONAL ISLANDS — a shared span of length L contributes
    *     L−n+1 anchors on ONE diagonal (pos_a − pos_b constant), at
    *     consecutive pos_a. Gaps-and-islands over each (id_a, id_b,
    *     diag): island = pos_a − row_number(), one group per maximal
    *     run — the same O(anchors) window pass q_sessionize uses.
    *  3. SPAN — per island: start = min pos (1-based), char length =
    *     run length + n − 1. Filter ≥ minLen.
    *
    * Scale shape: anchors shuffle as (id, pos, 8-byte hash) — never
    * document text; the join is selective because n is LONG (a ~25-char
    * gram over natural text is near-unique, unlike the 12-char Jaccard
    * shingles). Hot grams (site boilerplate repeated in f docs × m
    * positions) cost O((f·m)²) anchor pairs on this self-join —
    * `maxDf` caps a gram's document frequency before pairing (the
    * standard suffix-automaton pruning trade: spans composed ONLY of
    * >maxDf grams are lost; spans containing any sub-maxDf gram
    * survive anchored on it, possibly trimmed at hot edges). Default 0
    * = exact, the oracle-checked contract.
    *
    * 64-bit hash equality stands in for string equality inside one
    * join (P(collision) < 10⁻¹³ per comparison — the ShingleHashes
    * contract); the DuckDB oracle joins on the gram STRINGS.
    *
    * Returns (id_a, id_b, start_a, start_b, span_len), id_a < id_b,
    * starts 1-based char offsets.
    */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, minLen: Int, maxDf: Long = 0L): DataFrame = {
    require(minLen >= n, s"minLen ($minLen) must be >= n ($n)")
    val grams = posGrams(docs, idCol, textCol, n)
    val pruned =
      if (maxDf <= 0L) grams
      else {
        val hot = grams.groupBy(col("sh"))
          .agg(countDistinct(col("id")).as("df"))
          .filter(col("df") > maxDf)
          .select(col("sh"))
        grams.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val anchors = pruned.as("a")
      .join(pruned.as("b"),
            col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    spansFromAnchors(anchors, n, minLen)
  }

  /** Span-granular DECONTAMINATION (the surgical alternative to
    * `contamination`'s whole-doc flag): every maximal verbatim span of
    * length ≥ minLen a corpus document shares with ANY benchmark
    * document — (id_a = benchmark doc, id_b = corpus doc, start_a,
    * start_b, span_len), the exact shape `removeSharedSpans` consumes
    * to cut the quoted benchmark text OUT of the corpus doc while
    * keeping the rest (whole-doc dropping deletes a million-token
    * document over one quoted eval item).
    *
    * Scale shape: the benchmark's positional gram stream is tiny (eval
    * suites are MBs) and BROADCAST — the corpus grams are never
    * shuffled; the only exchange is the anchor rows partitioned by
    * (pair, diagonal), bounded by real quotation volume.
    *
    * Id contract: ids are compared ACROSS sides — a shared id is
    * treated as the same physical document (the realistic case:
    * benchmark slice drawn from the corpus table) and never pairs with
    * itself. Without the guard a doc on both sides would anchor
    * against itself at every position, emit a full-length self-span,
    * and `removeSharedSpans` would silently delete its entire text.
    * Sides with genuinely colliding id spaces must re-key first.
    */
  def sharedSpansBetween(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int, minLen: Int): DataFrame = {
    require(minLen >= n, s"minLen ($minLen) must be >= n ($n)")
    val anchors = posGrams(corpus, idCol, textCol, n).as("b")
      .join(broadcast(posGrams(benchmark, idCol, textCol, n).as("a")),
            col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    spansFromAnchors(anchors, n, minLen)
  }

  /** Line-granular cross-document dedup — the CCNet/RefinedWeb
    * boilerplate pass (Wenzek et al. 2020 §3.1 dedups paragraph hashes
    * across shards; Penedo et al. 2023 §3.3 repeats it line-wise):
    * headers, cookie banners and navigation chrome repeat VERBATIM as
    * whole lines across millions of pages, a shape document-level
    * near-dup can't touch (each page is otherwise unique). A line
    * occurring in >= `minDocs` DISTINCT documents keeps exactly its
    * first occurrence — (min doc, then min position) — and every other
    * occurrence corpus-wide is cut; lines below the threshold (and
    * intra-doc repeats inside one document, which `dupLineFraction`
    * gates separately) are untouched. Docs are reassembled in line
    * order; a doc whose every line is cut survives as "" (census
    * visible), and a null text stays null. Returns
    * (id, n_lines, n_removed, clean_text) for EVERY input doc.
    *
    * Structural lines are exempt: a line whose TRIMMED length is below
    * `minChars` (default 1 — i.e. empty and whitespace-only lines) is
    * never treated as boilerplate, matching CCNet/RefinedWeb practice.
    * Without the guard, blank paragraph separators — verbatim-repeated
    * in virtually every multi-paragraph document — would be cut
    * corpus-wide down to one global survivor, collapsing paragraph
    * structure everywhere. Raise `minChars` to also exempt trivial
    * punctuation lines ("}", "---"). Because eligibility is a pure
    * function of the line's content, ineligible lines are simply kept
    * out of the duplicate-stats aggregate and can never match a cut
    * key — which also removes the single heaviest skew key (the empty
    * line, present in nearly every doc) from the stats shuffle.
    *
    * Scale shape: the duplicate-line stats aggregate shuffles 16-byte
    * line hashes, never line bytes; the line bytes themselves ride two
    * bounded exchanges (the stats join keyed by hash, then the per-doc
    * reassembly) — the same one-exchange-per-stage budget as
    * removeSharedSpans, with map-side combine on both aggregates.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minDocs: Int = 2, minChars: Int = 1,
                hashMode: graft.text.Hashing.Mode =
                  graft.text.Hashing.OraclePortable): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    // pos is 0-based; split with limit -1 keeps trailing empty lines so
    // "a\n" round-trips as ["a", ""] (the SQL twin's string_split shape)
    val lines = docs
      .repartition(parts, col(idCol)) // single-file inputs: spread the scan
      .select(col(idCol),
              posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      // unhex: the fingerprint's 32-char hex STRING would ship 32 bytes
      // per line through the stats shuffle; the binary form is the
      // advertised 16 bytes (both modes emit 128-bit hex, so the key
      // stays collision-safe and mode-independent in width)
      .withColumn("lh",
                  unhex(graft.text.Hashing.fingerprint(col("line"),
                                                       hashMode)))
    // one aggregate keyed by the hash: document frequency + the global
    // first occurrence as a lexicographic struct-min (min doc, min pos
    // within it) — only lines at/over the threshold survive the filter,
    // so the join side below is bounded by real boilerplate volume.
    // Structural (sub-minChars) lines never enter: their hashes then
    // can't appear in stats, so the left join below keeps them for free
    val stats = lines
      .filter(length(trim(col("line"))) >= minChars)
      .groupBy(col("lh"))
      .agg(countDistinct(col(idCol)).as("df"),
           min(struct(col(idCol).as("d"), col("pos").as("p"))).as("first"))
      .filter(col("df") >= minDocs)
      .select(col("lh"), col("first"))
    val kept = lines.join(stats, Seq("lh"), "left_outer")
      .filter(col("first").isNull ||
              (col(idCol) === col("first.d") && col("pos") === col("first.p")))
    val cleanAgg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(
               array_sort(collect_list(struct(col("pos"), col("line")))),
               e => e.getField("line")),
             "\n").as("clean"))
    docs.select(col(idCol),
                col(textCol),
                size(split(col(textCol), "\n", -1)).cast("long")
                  .as("n_lines"))
      .join(cleanAgg, Seq(idCol), "left_outer")
      .select(col(idCol),
              col("n_lines"),
              (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
                .as("n_removed"),
              when(col(textCol).isNotNull, coalesce(col("clean"), lit("")))
                .as("clean_text"))
  }
}
