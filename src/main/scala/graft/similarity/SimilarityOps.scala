package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorExpressions.cosineSim

/** Similarity search over an embedding column (north-star scope).
  *
  * Tiers, in the order a 100 TB pipeline escalates through them:
  *  1. brute-force top-k against one probe — a broadcast of the probe and
  *     one narrow scan pass; exact, O(n·d), the correctness baseline;
  *  2. LSH (random hyperplanes) — probe touches only its bucket:
  *     O(n/2^bits · d) per query at some recall cost;
  *  3. IVF (inverted file) — coarse quantizer assigns every vector to its
  *     nearest centroid ONCE (a write-time transform); queries scan only
  *     `nprobe` inverted lists. The assignment is a broadcast join against
  *     the centroid table, so building the index is one scan pass too.
  *
  * All cosine math runs through the codegen'd native expression
  * (graft.functions.CosineSimilarity) in double precision.
  */
object SimilarityOps {

  /** Higher-order-function cosine (portable formulation, used to
    * cross-check the native expression in tests).
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Exact brute-force top-k neighbours of one stored vector.
    * The probe row is collected once (1 row) and broadcast as a literal
    * cross-join side; Catalyst plans scan → project(cosine) →
    * TakeOrderedAndProject, i.e. a distributed top-k with no full sort.
    */
  def topKNeighbors(emb: DataFrame, idCol: String, vecCol: String,
                    probeId: Long, k: Int): DataFrame = {
    val probe = broadcast(
      emb.filter(col(idCol) === probeId).select(col(vecCol).as("__probe")))
    emb.filter(col(idCol) =!= probeId)
      .crossJoin(probe)
      // rank on the ROUNDED similarity with the id tie-break — the same
      // deterministic, engine-portable ordering knnJoin uses (ranking on
      // the raw double would let a sub-ulp difference at the k-boundary
      // pick different neighbors across engines, and would make the
      // "knnJoin with one query ≡ topKNeighbors" contract false on
      // rounded ties)
      .withColumn("sim", round(cosineSim(col(vecCol), col("__probe")), 6))
      // degenerate corpus vectors (null / dim-mismatched / zero-norm)
      // have NULL cosine: EXCLUDED, and before the limit so they never
      // consume a k slot (r9 — desc-nulls-last used to pad a short
      // top-k with junk rows; int8TopK and kCenterSelect already
      // exclude, this aligns the family contract)
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("sim"))
  }

  /** Batched exact k-NN join: for EVERY query vector, its top-k nearest
    * corpus vectors by cosine — the serving/eval shape (embed a query
    * batch, retrieve per-query neighbors), where topKNeighbors is the
    * single-probe special case. The query batch broadcasts (queries ≪
    * corpus by contract — a batch is thousands against a corpus of
    * billions) so the corpus is scanned ONCE and never shuffled with its
    * payloads: the per-query top-k runs as a window on the scored
    * (query_id, neighbor_id, sim) stream, which Spark 4 bounds with
    * WindowGroupLimit — each map task forwards at most k rows per query
    * before the exchange, so the shuffle is O(k·queries·tasks) id/sim
    * triples, not |corpus|·|queries| rows. Ties broken by neighbor id;
    * sims rounded to 6 for an engine-portable selection.
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("__qv"))
    val scored = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
                   col(idCol)) // single-file inputs: spread the scan
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(q))
      .withColumn("sim", round(cosineSim(col("__qv"), col("__cv")), 6))
    scored
      // degenerate (null-sim) rows excluded before ranking so they
      // never consume a k slot — the topKNeighbors contract (r9)
      .filter(col("sim").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** Margin-based pair mining (Artetxe & Schwenk ACL'19 "ratio" margin —
    * the CCMatrix/CCAligned bitext-mining criterion). For a candidate
    * pair (x ∈ A, y ∈ B):
    *
    *   margin(x, y) = cos(x, y) / ((avgK(x, B) + avgK(y, A)) / 2)
    *
    * where avgK = mean cosine to the k nearest neighbors on the OTHER
    * side. An absolute cosine threshold over-collects in dense embedding
    * regions and under-collects in sparse ones; the margin normalizes
    * each pair by its local neighborhood density, keeping only pairs
    * that stand OUT of their neighborhoods (margin > 1 ⇔ closer to each
    * other than to their average near neighbors). Candidates are the
    * forward top-k pairs (y ∈ kNN(x, B)).
    *
    * Physical shape: two `knnJoin`s (each ONE scan of its corpus side,
    * per-query candidates bounded by WindowGroupLimit before the
    * exchange), denominators as k-row per-id averages, then two narrow
    * id-keyed joins of 2-column frames — vectors never ride a shuffle.
    * Contract: A is the batch/smaller side (both knnJoins broadcast
    * their query side); at index scale swap the exact knnJoin for
    * `ivfPqTopK` per batch — the margin arithmetic is unchanged.
    * Portability: sims are rounded to 6 BEFORE averaging and the margin
    * is rounded to 6 before the τ compare (grid-value sums sit off
    * round-half points — the lmTrain discipline), so the selection is
    * engine-portable and q_margin_mine is oracle-exact.
    */
  def marginMine(setA: DataFrame, setB: DataFrame, idCol: String,
                 vecCol: String, k: Int, tau: Double): DataFrame = {
    val fwd = knnJoin(setA, setB, idCol, vecCol, k)
      .transform(graft.CacheScope.pin)
    val bwd = knnJoin(setB, setA, idCol, vecCol, k)
    val denA = fwd.groupBy("query_id").agg(avg(col("sim")).as("den_a"))
    val denB = bwd.groupBy("query_id").agg(avg(col("sim")).as("den_b"))
      .withColumnRenamed("query_id", "neighbor_id")
    fwd.join(denA, "query_id").join(denB, "neighbor_id")
      .withColumn("margin",
        round(col("sim") / ((col("den_a") + col("den_b")) / 2), 6))
      .filter(col("margin") >= tau)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
              col("sim"), col("margin"))
  }

  /** All-pairs cosine above a threshold. Quadratic by nature; kept exact
    * here (the oracle-checkable contract). The scale path for corpus-level
    * near-dup is `lshBuckets` + within-bucket pairs.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  tau: Double): DataFrame = {
    // The O(n²) cosine work happens on the STREAMED side of the
    // BroadcastNestedLoopJoin, which inherits the input's partitioning —
    // a single-file embedding table is one partition, i.e. one core doing
    // all n² comparisons. Hash-repartition the streamed side on the id
    // (NOT round-robin, whose retry-determinism local sort costs a full
    // row sort) and pin the broadcast side explicitly so the plan is
    // (n/p)·n per task.
    val parts = emb.sparkSession.sparkContext.defaultParallelism
    val a = emb.repartition(parts, col(idCol))
      .select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    // Broadcast is pinned only while the build side provably fits: an
    // unconditional hint past the driver/broadcast memory limit turns a
    // slow-but-running shuffled BNLJ into a hard OOM. Catalyst's size
    // estimate is bytes-accurate for parquet scans; 1 GiB leaves ample
    // headroom under the 8 GiB broadcast hard cap and typical driver
    // heaps. Past the gate the join is left unhinted (Spark still picks
    // BNLJ and broadcasts the side IT estimates, or falls back to a
    // cartesian shuffle) — but at that scale the answer is lshCosinePairs
    // anyway; this exact operator is the small-corpus oracle baseline.
    val bSized =
      if (b.queryExecution.optimizedPlan.stats.sizeInBytes <= (1L << 30))
        broadcast(b)
      else b
    a.join(bSized, col("id_a") < col("id_b"))
      .withColumn("sim", cosineSim(col("va"), col("vb")))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH signature: bit j = sign(v · h_j), with
    * hyperplane components h_j[i] ∈ {±1} derived from xxhash64(j, i) —
    * deterministic, no stored model. Returns an integer bucket id in
    * [0, 2^bits). One fused codegen'd pass over the vector
    * (graft.functions.LshBucket); the HOF formulation below is kept as
    * the cross-check twin.
    */
  def lshBucket(vec: Column, bits: Int): Column =
    graft.functions.VectorExpressions.lshBucket(vec, bits)

  /** Portable higher-order-function formulation of `lshBucket` — walks the
    * vector once per bit through intermediate arrays, so it's the slow
    * path; used in tests to pin the native expression's semantics.
    */
  def lshBucketHof(vec: Column, bits: Int): Column = {
    val withIdx = zip_with(
      transform(vec, _.cast("double")),
      sequence(lit(0), size(vec) - 1),
      (x, i) => struct(x.as("x"), i.as("i")))
    val bitCols = (0 until bits).map { j =>
      val s = aggregate(withIdx, lit(0.0), (acc, e) =>
        acc + e.getField("x") *
          when(pmod(xxhash64(lit(j), e.getField("i")), lit(2)) === 0,
               lit(1.0)).otherwise(lit(-1.0)))
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** ANN top-k via LSH: probe only scans its own bucket. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              probeId: Long, k: Int, bits: Int = 6): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), bits))
    val probe = broadcast(
      bucketed.filter(col(idCol) === probeId)
        .select(col(vecCol).as("__probe"), col("bucket").as("__pbucket")))
    bucketed
      .join(probe, col("bucket") === col("__pbucket"))
      .filter(col(idCol) =!= probeId)
      .withColumn("sim", cosineSim(col(vecCol), col("__probe")))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 6).as("sim"))
  }

  /** Multi-probe ANN top-k (the Lv et al. VLDB'07 idea specialized to
    * hyperplane LSH): the probe scans its own bucket PLUS `probes`
    * Hamming-1 neighbor buckets — the buckets a true neighbor lands in
    * when exactly one hyperplane splits the pair, which is the dominant
    * miss mode at small angles (P(split) ≈ θ/π per plane). Recall rises
    * toward brute force as `probes` → bits while the scan stays
    * (probes+1)/2^bits of the corpus — the recall dial that does NOT
    * require rebuilding the index at different `bits`.
    *
    * This is the UNIFORM ring variant: query-directed probe ordering
    * (closest-hyperplane first) needs the per-plane margins, which
    * `lshBucket` deliberately does not materialize; flipping the lowest
    * `probes` bit positions is deterministic and keeps the bucket id a
    * single long. Candidates are exact-scored, so everything surfaced
    * is true cosine — only recall, never precision, is approximate.
    *
    * Scale shape: identical to annTopK — the probe row (now probes+1
    * bucket ids, exploded BEFORE the broadcast) broadcasts, the corpus
    * is scanned once with a bucket-membership join, top-k is
    * TakeOrderedAndProject.
    */
  def annTopKMulti(emb: DataFrame, idCol: String, vecCol: String,
                   probeId: Long, k: Int, bits: Int = 6,
                   probes: Int = 6): DataFrame = {
    require(probes >= 0 && probes <= bits,
            s"probes must be in [0, bits=$bits], got $probes")
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), bits))
    val ring = (0 until probes)
      .map(i => col("__b0").bitwiseXOR(lit(1L << i))) :+ col("__b0")
    val probe = broadcast(
      bucketed.filter(col(idCol) === probeId)
        .select(col(vecCol).as("__probe"), col("bucket").as("__b0"))
        .select(col("__probe"),
                explode(array(ring: _*)).as("__pbucket")))
    bucketed
      .join(probe, col("bucket") === col("__pbucket"))
      .filter(col(idCol) =!= probeId)
      .withColumn("sim", cosineSim(col(vecCol), col("__probe")))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 6).as("sim"))
  }

  /** Embedding near-dup pairs, LSH-bucketed (the corpus-scale path for
    * cosinePairs): vectors pair only within an LSH bucket, so the join is
    * Σ bucket² instead of n². Random-hyperplane LSH preserves angle:
    * P(same b-bit bucket) = (1−θ/π)^b, so high-cosine pairs survive with
    * known probability and everything surfaced is exact-verified. Returns
    * the same schema/contract as cosinePairs minus LSH misses.
    */
  def lshCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                     tau: Double, bits: Int = 4): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), bits))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
                            col(vecCol).as("va"))
    val b = bucketed.select(col("bucket").as("bucket_b"),
                            col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("sim", cosineSim(col("va"), col("vb")))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * recipe — Karpukhin et al. 2020 §3.2): for every anchor, the top-k
    * corpus items MOST similar to it among those with a DIFFERENT
    * label — the negatives that actually move a contrastive loss,
    * versus random in-batch ones. The label filter applies BEFORE the
    * ranking (a knnJoin-then-filter would silently return fewer than k
    * negatives whenever same-label neighbors crowd the top).
    *
    * Same scale contract as knnJoin: the anchor batch broadcasts
    * (anchors ≪ corpus), the corpus is scanned once and never shuffled
    * with payloads, and WindowGroupLimit bounds each map task to k rows
    * per anchor before the exchange.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(anchors.select(col(idCol).as("anchor_id"),
                                     col(vecCol).as("__qv"),
                                     col(labelCol).as("__ql")))
    corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
                   col(idCol)) // single-file inputs: spread the scan
      .select(col(idCol).as("neg_id"), col(vecCol).as("__cv"),
              col(labelCol).as("__cl"))
      .crossJoin(q)
      .filter(col("__cl") =!= col("__ql"))
      .withColumn("sim", round(cosineSim(col("__qv"), col("__cv")), 6))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("sim").desc, col("neg_id").asc)))
      .filter(col("__rn") <= k)
      .select(col("anchor_id"), col("neg_id"), col("sim"))
  }

  /** k-center greedy coreset selection (Sener & Savarese ICLR'18, the
    * farthest-point-first diverse-subset rule): pick the point whose
    * cosine distance to the already-selected set is LARGEST, k times —
    * the k rows that cover the corpus with minimal radius (2-approx of
    * the optimal k-center), the diversity-first complement of the
    * similarity-first screens (SemDeDup prunes dense regions; this
    * SELECTS spread representatives, e.g. a seed set for labeling).
    *
    * Scale shape: the per-row min-distance state rides ONE persisted
    * corpus frame; each round folds the single new center in as a
    * d-double literal (`least(mind, 1 − cos(v, lit))`), picks the next
    * argmax via TakeOrderedAndProject, and re-persists eagerly
    * (truncating the lineage, previous round released — the ivfTrain
    * cache discipline). Per round: one scan, one 1-row collect, ZERO
    * shuffles; total k scans. Selection stops early when the farthest
    * remaining point is at distance ~0 (only duplicates remain).
    *
    * Deterministic: seed = lowest id, argmax ties break to the lowest
    * id, zero-norm vectors are excluded up front (their cosine is
    * undefined against everything).
    *
    * Returns (rank, id, radius): radius = the point's distance to the
    * selected set when chosen (the seed's is null); radii are
    * non-increasing — the classic coverage curve.
    */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val spark = emb.sparkSession
    require(k >= 1, s"k must be >= 1, got $k")
    val base = emb
      .select(col(idCol).cast("long").as("id"),
              transform(col(vecCol), _.cast("double")).as("v"))
      .filter(cosineSim(col("v"), col("v")).isNotNull)
    val seedRows = base.orderBy(col("id").asc).limit(1).collect()
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Long, Option[Double])]
    if (seedRows.nonEmpty) {
      val seedId = seedRows.head.getLong(0)
      var center = seedRows.head.getSeq[Double](1)
      out += ((0, seedId, None))
      var frame: DataFrame = null
      var done = false
      for (rank <- 1 until k if !done) {
        val centerLit = typedLit(center)
        val prev = frame
        val updated =
          (if (frame == null)
             base.withColumn(
               "mind", lit(1.0) - cosineSim(col("v"), centerLit))
           else
             frame.withColumn(
               "mind", least(col("mind"),
                             lit(1.0) - cosineSim(col("v"), centerLit))))
            .transform(graft.CacheScope.pin)
        // eager: truncate the lineage before releasing the prior round
        updated.count()
        if (prev != null) prev.unpersist(false)
        frame = updated
        val pick = frame
          .orderBy(col("mind").desc, col("id").asc).limit(1).collect()
        if (pick.isEmpty || pick.head.getDouble(2) <= 1e-12) done = true
        else {
          out += ((rank, pick.head.getLong(0),
                   Some(pick.head.getDouble(2))))
          center = pick.head.getSeq[Double](1)
        }
      }
      if (frame != null) frame.unpersist(false)
    }
    import spark.implicits._
    out.toSeq
      .map { case (r, id, rad) =>
        (r, id, rad.map(d => BigDecimal(d).setScale(
           6, BigDecimal.RoundingMode.HALF_UP).toDouble)) }
      .toDF("rank", "id", "radius")
      .select(col("rank"), col("id"),
              col("radius").cast("double").as("radius"))
  }

  /** Semantic decontamination — the embedding-space member of the
    * decontamination family (exact n-gram / span / Bloom screens live in
    * `DedupOps`): flag corpus vectors whose max cosine against ANY
    * benchmark vector reaches `tau`, the screen that catches paraphrased
    * test-set leakage the lexical screens structurally miss.
    *
    * Scale shape: the benchmark folds into ONE array-of-structs row
    * (sorted by id) and broadcasts — a test set is tiny by definition —
    * so the corpus is NEVER shuffled; cost = one scan pass × |bench|
    * cosines per row, the same zero-exchange contract as `ivfAssignTo`.
    * The argmax keeps the FIRST maximum in bench-id order (strict `>`
    * over the sorted fold), so ties break deterministically; degenerate
    * (zero-norm) corpus vectors have null cosine everywhere, keep the
    * (-1, -2.0) init, and are never flagged.
    *
    * Returns flagged rows only: (idCol, bench_id, max_sim) — output is
    * bounded by real contamination volume, not corpus size.
    *
    * Stateless (no watermark, no stream-side shuffle), so `corpus` may
    * be a readStream: the screen becomes a stream-static cross join
    * against the one-row fold, the `contaminationStream` shape — spec
    * pins stream ≡ batch.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double): DataFrame = {
    val folded = benchmark.agg(array_sort(collect_list(struct(
      col(idCol).cast("long").as("b"),
      transform(col(vecCol), _.cast("double")).as("c")))).as("__bench"))
    val best = aggregate(
      transform(col("__bench"), e =>
        struct(e.getField("b").as("b"),
               cosineSim(col(vecCol), e.getField("c")).as("s"))),
      struct(lit(-1L).as("b"), lit(-2.0).as("s")),
      (acc, p) =>
        when(p.getField("s") > acc.getField("s"), p).otherwise(acc))
    corpus.crossJoin(broadcast(folded))
      .select(col(idCol), best.as("__best"))
      .filter(col("__best").getField("s") >= tau)
      .select(col(idCol),
              col("__best").getField("b").as("bench_id"),
              round(col("__best").getField("s"), 6).as("max_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    * corpus scale. Clusters bound the pairwise search — cosine pairs form
    * only WITHIN a cluster, so the join is Σ cluster² instead of n²
    * (cosinePairs' documented quadratic contract), with recall loss only
    * for near-dup pairs split across cluster boundaries (the paper
    * accepts the same trade). Within each duplicate component the member
    * with the LOWEST cosine to its own cluster centroid survives — the
    * paper's diversity-preserving keep rule (keep the atypical example,
    * drop the redundant core); ties break on id.
    *
    * `cents` defaults to the deterministic seed codebook, making the
    * whole decision SQL-derivable (the oracle recomputes assignment,
    * within-list pairs, closure, and the keep rule); production passes
    * `ivfTrain(...)` output instead — same plan, trained clusters.
    *
    * Assignment is the zero-shuffle ivfAssignTo shape (folded broadcast
    * codebook, per-row argmax) but over ROUNDED (1e-6) centroid sims:
    * the argmax is then engine-portable — a sub-ulp dot difference
    * cannot flip the winning list unless two centroids tie at 1e-6,
    * which the deterministic list_id order then breaks. A degenerate
    * (zero-norm) vector keeps the (-2.0, list 0) init and, having null
    * cosine to everything, can never enter a component — it is
    * implicitly kept, like every other pairless doc.
    *
    * Returns every member of a duplicate component:
    * (id, list_id, comp, cent_sim, kept); docs in no component are
    * implicitly kept and not emitted (output bounded by real duplicate
    * volume, not corpus size).
    */
  def semDeDup(emb: DataFrame, idCol: String, vecCol: String,
               tau: Double, nlist: Int,
               cents: Option[DataFrame] = None): DataFrame = {
    val cb = foldIvfCodebook(cents.getOrElse(
      seedCentroids(emb, idCol, vecCol, nlist)))
    val best = aggregate(
      transform(col("__cb"), e =>
        struct(e.getField("l").as("l"),
               round(cosineSim(col(vecCol), e.getField("c")), 6).as("s"))),
      struct(lit(0).as("l"), lit(-2.0).as("s")),
      (acc, p) =>
        when(p.getField("s") > acc.getField("s"), p).otherwise(acc))
    // three consumers (both pair-join sides + the member join): persist
    // so the scan + per-row cosine-to-every-centroid argmax runs once
    // (the hashedSets multi-consumer discipline; CacheScope owns the
    // release). NOT spreadSmallScan'd (r11 measurement): the downstream
    // within-list pair join is array-allocation-heavy, and 32 concurrent
    // tasks in the shared local-mode heap inflated its task time ~10×
    // (wall 1.4 → 3.5 s) — the 1-partition cache fill is the cheap plan
    // here, unlike the primitive-loop PQ encode paths.
    val assigned = emb.crossJoin(broadcast(cb))
      .select(col(idCol), col(vecCol),
              best.getField("l").as("list_id"),
              best.getField("s").as("cent_sim"))
      .transform(graft.CacheScope.pin)
    val a = assigned.select(col("list_id"), col(idCol).as("id_a"),
                            col(vecCol).as("va"))
    val b = assigned.select(col("list_id").as("__lb"),
                            col(idCol).as("id_b"), col(vecCol).as("vb"))
    val pairs = a
      .join(b, col("list_id") === col("__lb") && col("id_a") < col("id_b"))
      .filter(cosineSim(col("va"), col("vb")) >= tau)
      .select(col("id_a"), col("id_b"))
    val comps = graft.dedup.ConnectedComponents
      .connectedComponents(pairs, "id_a", "id_b", assumeDistinct = true)
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("cent_sim").asc, col("id").asc)
    comps
      .join(assigned.select(col(idCol).as("id"), col("list_id"),
                            col("cent_sim")), "id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("list_id"), col("comp"),
              col("cent_sim"), col("kept"))
  }

  /** Deterministic seed codebook: the `nlist` lowest-id vectors, ranked
    * into list ids 0..nlist-1. The global window runs over nlist rows
    * only, never the data.
    */
  def seedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                    nlist: Int): DataFrame =
    emb.orderBy(col(idCol).asc).limit(nlist)
      .withColumn("list_id",
        row_number().over(Window.orderBy(col(idCol).asc)) - 1)
      .select(col("list_id"), col(vecCol).as("cvec"))

  /** Assign every vector to its nearest centroid in `cents`
    * (list_id, cvec). One broadcast of the (tiny) codebook + one scan
    * pass; ties break on the lower list_id. At scale this is the
    * write-time pass that turns a flat 100 TB embedding table into
    * `nlist` inverted lists.
    */
  /** The IVF codebook folded into ONE array-of-structs row (sorted by
    * list_id) for broadcasting — the codebook is tiny BY DEFINITION
    * (nlist ≪ n). Shared by assignment and the composed IVF×PQ build.
    */
  private def foldIvfCodebook(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(
      col("list_id").cast("int").as("l"),
      transform(col("cvec"), _.cast("double")).as("c")))).as("__cb"))

  /** Argmax-cosine list id for one vector against the folded codebook.
    * The transform evaluates each cosine exactly ONCE (folding cosineSim
    * into the when() predicate would embed two copies per centroid);
    * strict > then keeps the FIRST maximum in list_id order — the same
    * (csim desc NULLS LAST, list_id asc) tie-break the window form had.
    * The accumulator starts at (l = 0, s = -2.0): a degenerate vector
    * whose cosine is null against EVERY centroid (zero-norm/empty) keeps
    * the init and lands in list 0, matching the old NULLS-LAST ranking
    * instead of inventing a phantom list.
    */
  private def nearestListExpr(vec: Column, cb: Column): Column =
    aggregate(
      transform(cb, e =>
        struct(e.getField("l").as("l"),
               cosineSim(vec, e.getField("c")).as("s"))),
      struct(lit(0).as("l"), lit(-2.0).as("s")),
      (acc, p) =>
        when(p.getField("s") > acc.getField("s"), p).otherwise(acc))
      .getField("l")

  def ivfAssignTo(emb: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame): DataFrame =
    // One broadcast of the folded codebook; the nearest-centroid argmax
    // runs per embedding row inside one projection. The embedding table
    // is never shuffled AT ALL — not by a per-vector window (r2:
    // full-table sort shuffle per k-means iteration, whole-group
    // buffering) and not by a groupBy(id) argmax (still one-row-per-
    // vector shuffle, i.e. the whole table at scale). Assignment cost:
    // one scan pass, nlist cosines per row, zero exchanges.
    emb.crossJoin(broadcast(foldIvfCodebook(cents)))
      .select(col(idCol), col(vecCol),
              nearestListExpr(col(vecCol), col("__cb")).as("list_id"))

  /** Spherical k-means training for the IVF codebook: assign to nearest
    * centroid by cosine, recompute each list's centroid as the
    * per-dimension mean (the mean direction maximizes the summed cosine,
    * so the objective is monotone non-decreasing — the spec asserts it),
    * repeat. Fully distributed: each iteration is one zero-shuffle
    * assignment pass (see ivfAssignTo) plus ONE partial aggregation for
    * the new means — the native `vector_sum` aggregate's buffer is a
    * single double[d] per group, so the map side combines n vectors down
    * to nlist·d doubles per task (the posexplode formulation it replaces
    * blew the table up to n×d rows and shuffled twice); the only data
    * ever collected anywhere is nothing — the codebook stays a (tiny)
    * DataFrame, re-broadcast each round.
    *
    * CACHE OWNERSHIP: each iteration's codebook is persisted eagerly and
    * the previous one released immediately; the FINAL returned codebook
    * stays persisted (nlist rows) and the caller owns its `unpersist()`
    * once the index build that consumes it has run.
    */
  /** Driver-side Lloyd for `ivfTrain`'s at-or-below-gate regime — the
    * same algorithm contract bit-for-bit: seed = first `nlist` rows by
    * id ascending INCLUDING null/degenerate vectors (the seedCentroids
    * contract); assignment = strict-> argmax cosine in list order with
    * init (list 0, −2.0), null cosines (length mismatch, zero norm,
    * null/empty operand) skipped — `nearestListExpr`'s exact
    * semantics; means include every size>0 vector (zero-norm rows land
    * in list 0 and still contribute, as in the distributed path); an
    * empty list keeps its previous centroid. ONE sorted collect
    * replaces iters × (assign-scan + vector_sum + join + count) rounds
    * of scheduled jobs. Returns a LOCAL (list_id, cvec) relation.
    */
  private def ivfTrainDriver(emb: DataFrame, idCol: String,
                             vecCol: String, nlist: Int,
                             iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val vecs: Array[Array[Double]] = emb
      .select(col(idCol),
              transform(col(vecCol), x => x.cast("double")).as("__v"))
      .orderBy(col(idCol).asc)
      .collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)
    var cents: Array[Array[Double]] = vecs.take(nlist)
    // cosineSim's exact arithmetic: null (NaN here) on null operand,
    // length mismatch, empty, or zero norm; else dot/(√na·√nb)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      if (a == null || b == null || a.length != b.length ||
          a.length == 0) return Double.NaN
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) Double.NaN
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (_ <- 1 to iters) {
      val nl = cents.length
      val sums = new Array[Array[Double]](nl)
      val cnts = new Array[Long](nl)
      for (v <- vecs if v != null && v.length > 0) {
        var best = 0; var bestS = -2.0; var l = 0
        while (l < nl) {
          val s = cos(v, cents(l))
          if (s == s && s > bestS) { best = l; bestS = s }
          l += 1
        }
        // uniform-dim precondition (gated at dispatch) makes the
        // elementwise sum well-defined, like vector_sum's contract
        if (sums(best) == null) sums(best) = new Array[Double](v.length)
        val acc = sums(best); var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
        cnts(best) += 1L
      }
      cents = Array.tabulate(nl) { l =>
        if (cnts(l) == 0L) cents(l)
        else {
          val m = new Array[Double](sums(l).length); var i = 0
          while (i < m.length) { m(i) = sums(l)(i) / cnts(l); i += 1 }
          m
        }
      }
    }
    import spark.implicits._
    cents.toSeq.zipWithIndex
      .map { case (c, l) => (l, Option(c).map(_.toSeq)) }
      .toDF("list_id", "cvec")
  }

  def ivfTrain(emb: DataFrame, idCol: String, vecCol: String,
               nlist: Int, iters: Int,
               gate: Long = PqDriverTrainGate): DataFrame = {
    // TWO REGIMES, the pqTrain precedent: a training set at or below
    // PqDriverTrainGate elements (and with one uniform non-empty
    // vector length — the mixed-dim corner keeps the battle-tested
    // distributed semantics) collects once and runs Lloyd on the
    // driver; IVF codebooks train on bounded samples at any corpus
    // scale (the faiss discipline), so that's the common case.
    val probe = emb.select(size(col(vecCol)).as("__s"))
      .agg(sum(when(col("__s") > 0, col("__s").cast("long"))),
           min(when(col("__s") > 0, col("__s"))),
           max(when(col("__s") > 0, col("__s"))),
           count(lit(1))).head()
    val elems = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    val uniform = probe.isNullAt(1) || probe.getInt(1) == probe.getInt(2)
    // the ROW count gates too: ivfTrainDriver collects every row
    // (null/empty vectors included — they are part of the seed-order
    // contract), so a corpus that is mostly degenerate rows must not
    // slip under an element-only gate and unbound the collect
    val rows = probe.getLong(3)
    if (elems <= gate && rows <= gate && uniform)
      ivfTrainDriver(emb, idCol, vecCol, nlist, iters)
    else
      ivfTrainDistributed(emb, idCol, vecCol, nlist, iters)
  }

  /** The above-gate regime of `ivfTrain` — the distributed Lloyd;
    * `private[graft]` so specs can pin both regimes against each other.
    */
  private[graft] def ivfTrainDistributed(
      emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): DataFrame = {
    // doubles throughout: the per-dimension means are double, and
    // coalesce (empty-cluster carry-over) needs both branches same-typed
    var cents = seedCentroids(emb, idCol, vecCol, nlist)
      .select(col("list_id"),
              transform(col("cvec"), _.cast("double")).as("cvec"))
    for (_ <- 1 to iters) {
      val assigned = ivfAssignTo(emb, idCol, vecCol, cents)
      // count(vecCol), not count(*): vector_sum null-skips, so the mean's
      // denominator must too, or null vectors dilute the centroid.
      // Degenerate (empty) vectors are excluded from the MEANS entirely:
      // ivfAssignTo parks them in list 0, but a 0-length array inside
      // vector_sum would be a hard length-mismatch against real vectors —
      // and a direction-less vector has nothing to contribute anyway.
      val means = assigned
        .filter(size(col(vecCol)) > 0)
        .groupBy(col("list_id"))
        .agg(graft.functions.VectorAggregates.vectorSum(col(vecCol))
               .as("vsum"),
             count(col(vecCol)).as("cnt"))
        .select(col("list_id"),
                transform(col("vsum"), x => x / col("cnt")).as("mvec"))
      // An empty cluster (no assignments this round) keeps its previous
      // centroid instead of silently vanishing from the codebook — the
      // codebook stays exactly nlist lists.
      val prev = cents
      cents = cents
        .join(means, Seq("list_id"), "left")
        .select(col("list_id"),
                coalesce(col("mvec"), col("cvec")).as("cvec"))
        .transform(graft.CacheScope.pin)
      // Training is inherently iterative: round i's assignment job must
      // run before round i+1 can improve on it, so materialize each
      // round's (nlist-row) codebook EAGERLY — that truncates the lazy
      // lineage (O(iters²) re-assignment passes otherwise) and makes it
      // safe to release the previous round's cache immediately instead
      // of leaking one cached frame per iteration.
      cents.count()
      prev.unpersist(false) // no-op for the (never-persisted) seed frame
    }
    cents
  }

  /** IVF query: search the `nprobe` lists whose centroids (from the
    * `cents` codebook — seed or trained) are nearest the probe,
    * brute-force within them.
    */
  /** Symmetric per-vector int8 quantization — the memory-side scale
    * lever for ANN at 100 TB: a quantized corpus is 4× smaller than
    * float32 (and the reconstruction error is bounded by 0.5/scale per
    * element, so re-ranking on the quantized codes stays honest). Pure
    * narrow projection: one fused pass computes the max-abs, the scale,
    * and the rounded codes — no shuffle, no UDF.
    *
    * Determinism contract: codes are floor(x·scale + 0.5) — explicit
    * round-half-up, identical in every engine (library round() functions
    * disagree on half-to-even vs half-away at exact .5) — and the scale
    * is rounded to 6 for output. A non-positive OR non-finite max
    * (empty, all-zero, or any NaN/±Inf element — NaN sorts greatest in
    * Spark's array_max, so one bad element decides the max) yields a
    * defined null scale + null codes rather than engine-dependent
    * NaN-arithmetic garbage; Int8Codes (the fused serving twin)
    * implements the identical contract, spec-pinned.
    */
  def quantizeInt8(emb: DataFrame, idCol: String,
                   vecCol: String): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val ok = mx > 0 && !isnan(mx) && mx < lit(Double.PositiveInfinity)
    val scale = lit(127.0) / mx
    emb.select(
      col(idCol),
      when(ok, round(scale, 6)).as("scale"),
      when(ok,
           transform(col(vecCol),
                     x => floor(x.cast("double") * scale + lit(0.5))
                       .cast("int")))
        .as("qvec"))
  }

  def ivfTopK(assigned: DataFrame, cents: DataFrame, idCol: String,
              vecCol: String, probeId: Long, k: Int,
              nprobe: Int): DataFrame = {
    val probe = broadcast(
      assigned.filter(col(idCol) === probeId)
        .select(col(vecCol).as("__probe")))
    val targetLists = broadcast(
      cents.crossJoin(probe)
        .withColumn("csim", cosineSim(col("cvec"), col("__probe")))
        .orderBy(col("csim").desc, col("list_id").asc)
        .limit(nprobe)
        .select(col("list_id").as("lid")))
    assigned
      .join(targetLists, col("list_id") === col("lid"))
      .filter(col(idCol) =!= probeId)
      .crossJoin(probe)
      // rank on the ROUNDED sim with the id tie-break — the
      // topKNeighbors determinism convention, and what makes the
      // nprobe=nlist endpoint EQUAL the exact twin on rounded ties at
      // the k-boundary (ranking raw could pick a different sub-ulp
      // neighbor than the rounded oracle ordering)
      .withColumn("sim", round(cosineSim(col(vecCol), col("__probe")), 6))
      // degenerate corpus vectors (null / dim-mismatched / zero-norm)
      // have NULL cosine: EXCLUDED, and before the limit so they never
      // consume a k slot (r9 — desc-nulls-last used to pad a short
      // top-k with junk rows; int8TopK and kCenterSelect already
      // exclude, this aligns the family contract)
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("sim"))
  }

  // ------------------------------------------------------------------ PQ

  /** Fold a PQ codebook (sub_id, code, cvec) into ONE broadcastable row:
    * an array indexed by sub_id whose entries are the sub's (code, c)
    * list sorted by code. nsub·k rows total — tiny by construction, the
    * same fold-then-broadcast discipline as ivfAssignTo's codebook.
    */
  private def foldPqCodebook(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub_id"))
      .agg(array_sort(collect_list(struct(
             col("code").cast("int").as("code"),
             col("cvec").as("c"),
             // ‖c‖² precomputed at fold time: higher-order lambdas are
             // interpreted (not codegen'd), so every dot skipped per
             // (row, entry) matters — see nearestCode
             graft.functions.VectorExpressions
               .dotProduct(col("cvec"), col("cvec")).as("c2"))))
             .as("entries"))
      .agg(array_sort(collect_list(struct(
             col("sub_id").cast("int").as("sub"),
             col("entries").as("entries")))).as("__pqcb"))

  /** Argmin-L2 code for one subvector against one sub's entries. The
    * row-constant ‖sv‖² term is DROPPED from the objective (argmin of
    * ‖sv−c‖² ≡ argmin of ‖c‖² − 2·sv·c), and ‖c‖² is read precomputed —
    * ONE interpreted dot per (row, entry) instead of three. Strict <
    * keeps the lowest code on ties.
    */
  private def nearestCode(sv: Column, entries: Column): Column =
    aggregate(entries,
      struct(lit(-1).as("code"), lit(Double.MaxValue).as("obj")),
      (acc, e) => {
        val obj = e.getField("c2") - lit(2.0) *
          graft.functions.VectorExpressions.dotProduct(sv, e.getField("c"))
        when(obj < acc.getField("obj"),
             struct(e.getField("code").as("code"), obj.as("obj")))
          .otherwise(acc)
      }).getField("code")

  /** Per-row PQ encoding: for each of the nsub subvector slices, the
    * L2-nearest code in that sub's codebook — evaluated entirely inside
    * one projection against the folded broadcast codebook (zero
    * exchanges over the embedding table, the ivfAssignTo discipline).
    * Ties keep the LOWEST code (strict <); `dvec` must already be
    * array<double> of length nsub·dsub.
    */
  private def pqCodesExpr(dvec: Column, cbBySub: Column, nsub: Int,
                          dsub: Int): Column =
    transform(sequence(lit(0), lit(nsub - 1)), s =>
      nearestCode(slice(dvec, s * dsub + 1, lit(dsub)),
                  element_at(cbBySub, s + 1).getField("entries")))

  /** Driver-training gate for `pqTrain`, in total ELEMENTS (rows · d):
    * at or below it the training set is collected and Lloyd runs on the
    * driver (4M doubles = 32 MB heap, the size-gated-collect
    * discipline); above it the distributed per-subspace path runs.
    * Codebook training on a bounded sample is the standard PQ shape
    * (faiss trains on ~100k–1M vectors regardless of corpus size), so
    * at 100 TB the caller passes a sample and lands in the driver
    * regime on purpose; the distributed path remains for unsampled
    * corpora.
    */
  val PqDriverTrainGate: Long = 4L << 20

  /** Driver-side Lloyd for `pqTrain`'s at-or-below-gate regime — the
    * SAME algorithm bit-for-bit (seed = first `codes` subvectors by id
    * ascending; assignment = strict-< argmin of ‖c‖² − 2⟨sv,c⟩ in code
    * order, `nearestCode`'s exact contract; empty codes keep their
    * previous centroid), just without a cluster round-trip per Lloyd
    * iteration: ONE sorted collect replaces ~12 scheduled jobs of
    * window-seed + broadcast-assign + vector_sum per round (measured:
    * q_pq_topk 3.8 → ~1.5 s at sf0.1, where the corpus is 2k rows and
    * the wall is pure scheduling). Returns a LOCAL codebook relation —
    * zero jobs to re-read, broadcast-ready, nothing to pin.
    */
  private def pqTrainDriver(emb: DataFrame, idCol: String, vecCol: String,
                            nsub: Int, codes: Int, iters: Int,
                            d: Int, dsub: Int): DataFrame =
    pqLloydDriver(emb.sparkSession, collectTrainVecs(emb, idCol, vecCol, d),
                  nsub, codes, iters, dsub)

  /** The driver regime's one cluster round-trip: id-sorted training
    * vectors as local arrays (the collect is gated by PqDriverTrainGate
    * elements = 32 MB of doubles). Split out of `pqTrainDriver` so a
    * grid of codebook configs over the SAME corpus (`pqTrainGrid`)
    * collects once instead of once per config.
    */
  private def collectTrainVecs(emb: DataFrame, idCol: String,
                               vecCol: String, d: Int): Array[Array[Double]] =
    // orderBy delegates the seed's id ordering to Spark (exact ordering
    // semantics for any id type)
    emb.filter(size(col(vecCol)) === d)
      .select(col(idCol),
              transform(col(vecCol), x => x.cast("double")).as("__v"))
      .orderBy(col(idCol).asc)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Driver-side Lloyd over pre-collected vectors — the algorithm body
    * of `pqTrainDriver`, byte-identical contracts (first-`codes`-by-id
    * seeds, argmin assignment, empty codes keep their centroid).
    */
  private def pqLloydDriver(spark: org.apache.spark.sql.SparkSession,
                            vecs: Array[Array[Double]],
                            nsub: Int, codes: Int, iters: Int,
                            dsub: Int): DataFrame = {
    val nCodes = math.min(codes, vecs.length)
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(nsub, nCodes) { (s, c) =>
        java.util.Arrays.copyOfRange(vecs(c), s * dsub, (s + 1) * dsub) }
    def dotSub(v: Array[Double], off: Int, c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dsub) { acc += v(off + i) * c(i); i += 1 }
      acc
    }
    for (_ <- 1 to iters) {
      val c2 = Array.tabulate(nsub, nCodes)((s, c) => {
        var acc = 0.0; var i = 0
        while (i < dsub) { acc += cb(s)(c)(i) * cb(s)(c)(i); i += 1 }
        acc
      })
      val sums = Array.fill(nsub, nCodes)(new Array[Double](dsub))
      val cnts = Array.fill(nsub, nCodes)(0L)
      for (v <- vecs; s <- 0 until nsub) {
        var best = -1; var bestObj = Double.MaxValue; var c = 0
        while (c < nCodes) {
          val obj = c2(s)(c) - 2.0 * dotSub(v, s * dsub, cb(s)(c))
          if (obj < bestObj) { best = c; bestObj = obj }
          c += 1
        }
        // a non-finite subvector (NaN element) scores NaN against every
        // code, so best stays -1 — the distributed twin's nearestCode
        // likewise yields a phantom code its means-join drops, so the
        // row contributes to no mean in EITHER regime (indexing
        // sums(s)(-1) crashed here before)
        if (best >= 0) {
          val acc = sums(s)(best); var i = 0
          while (i < dsub) { acc(i) += v(s * dsub + i); i += 1 }
          cnts(s)(best) += 1L
        }
      }
      cb = Array.tabulate(nsub, nCodes) { (s, c) =>
        if (cnts(s)(c) == 0L) cb(s)(c)
        else {
          val m = new Array[Double](dsub); var i = 0
          while (i < dsub) { m(i) = sums(s)(c)(i) / cnts(s)(c); i += 1 }
          m
        }
      }
    }
    import spark.implicits._
    (for (s <- 0 until nsub; c <- 0 until nCodes)
      yield (s, c, cb(s)(c).toSeq))
      .toDF("sub_id", "code", "cvec")
  }

  /** Train a PRODUCT-QUANTIZATION codebook (Jégou et al., TPAMI 2011):
    * split each d-dim vector into `nsub` contiguous subvectors and run
    * an independent k-means (`codes` centroids, L2) in every subspace —
    * all nsub problems trained SIMULTANEOUSLY in one frame keyed by
    * sub_id. PQ is the memory knob that decides whether a 100 TB float
    * corpus serves from RAM: nsub bytes per vector instead of 4·d
    * (32× at d=64, nsub=8).
    *
    * Scale shape per Lloyd iteration: assignment is the per-row argmin
    * against the folded broadcast codebook — the subvector frame is
    * never shuffled; the means are ONE (sub_id, code) aggregation of
    * dsub-length arrays (vector_sum partial combine). Empty codes keep
    * their previous centroid (the ivfTrain contract); each round's
    * nsub·k-row codebook materializes eagerly to truncate the lazy
    * lineage. Seeds are the first `codes` subvectors by id — RNG-free
    * and re-derivable, like every other initialization in the engine.
    *
    * Returns (sub_id, code, cvec: array<double>[dsub]). Vectors whose
    * length ≠ the (required-uniform) corpus dimension are excluded from
    * training; `d` is probed with one tiny max(size) action up front
    * (train-time only).
    *
    * TWO REGIMES (the GraphOps adaptive/pinned precedent): training
    * sets at or below `PqDriverTrainGate` elements collect once and
    * Lloyd runs on the driver (`pqTrainDriver` — same algorithm, same
    * seed/argmin/empty-code contracts, zero per-round jobs); larger
    * sets run the distributed path below. Codebooks train on bounded
    * samples at any corpus scale (the faiss discipline), so the driver
    * regime is the common case by design.
    *
    * CACHE OWNERSHIP (distributed regime): the subvector frame and the
    * returned codebook are pinned (evictable) — callers release via
    * `CacheScope.capture`'s handle or clearCache, the hashedSets/curate
    * contract. The driver regime returns a local relation — nothing to
    * pin or release.
    */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              nsub: Int, codes: Int, iters: Int,
              gate: Long = PqDriverTrainGate): DataFrame =
    pqTrainGrid(emb, idCol, vecCol, nsub, Seq(codes), iters, gate).head

  /** Train a GRID of PQ codebook sizes over one corpus in one pass of
    * the train-time bookkeeping: the modal-dimension probe runs once and
    * (driver regime) the id-sorted training vectors collect once, then
    * each `codes` value runs its own driver Lloyd on the shared local
    * arrays. Byte-identical to calling `pqTrain` per config (the probe,
    * the collect, the seeds and the iteration are all config-independent
    * or per-config-identical) — spec-pinned by PqSpec — but a grid of G
    * configs schedules 2 jobs instead of 2·G (r12 task 5: q_pq_eval's
    * two-config grid paid the dims probe + corpus collect twice).
    * Above-gate corpora fall back to one distributed train per config
    * (the subvector frames genuinely differ per run there — no shared
    * collect exists to reuse).
    */
  def pqTrainGrid(emb: DataFrame, idCol: String, vecCol: String,
                  nsub: Int, codesGrid: Seq[Int], iters: Int,
                  gate: Long = PqDriverTrainGate): Seq[DataFrame] = {
    require(codesGrid.nonEmpty && nsub >= 1 && iters >= 0 &&
            codesGrid.forall(_ >= 1),
            s"nsub/codes/iters must be positive (got $nsub/$codesGrid/$iters)")
    // d = the MODAL vector length (ties: smaller), one tiny aggregate:
    // max(size) let a single stray higher-dimensional row redefine d,
    // train the codebook on that one vector and silently exclude the
    // entire real corpus from training AND encoding (size === d filters
    // everywhere downstream). The mode trains on the corpus's actual
    // dimension and excludes strays of ANY size; its row count is also
    // exactly what the driver regime collects, so it drives the gate.
    val dims = emb.groupBy(size(col(vecCol)).as("__d"))
      .agg(count(lit(1)).as("__c")).filter(col("__d") > 0)
      .orderBy(col("__c").desc, col("__d").asc).limit(1).collect()
    require(dims.nonEmpty, "pqTrain: corpus has no vectors")
    val d = dims(0).getInt(0)
    require(d % nsub == 0, s"dimension $d not divisible by nsub=$nsub")
    val dsub = d / nsub
    if (dims(0).getLong(1) * d <= gate) {
      val vecs = collectTrainVecs(emb, idCol, vecCol, d)
      codesGrid.map(c =>
        pqLloydDriver(emb.sparkSession, vecs, nsub, c, iters, dsub))
    } else
      codesGrid.map(c =>
        pqTrainDistributed(emb, idCol, vecCol, nsub, c, iters, d, dsub))
  }

  /** The above-gate regime of `pqTrain` — the distributed Lloyd as
    * documented there; `private[graft]` so PqSpec can pin its seed
    * plan shape (WindowGroupLimit) without a gate-sized fixture.
    */
  private[graft] def pqTrainDistributed(
      emb: DataFrame, idCol: String, vecCol: String,
      nsub: Int, codes: Int, iters: Int, d: Int, dsub: Int): DataFrame = {
    val dvec = transform(col(vecCol), x => x.cast("double"))
    val subv = emb.filter(size(col(vecCol)) === d)
      .select(col(idCol).as("id"),
              explode(transform(sequence(lit(0), lit(nsub - 1)), s =>
                struct(s.cast("int").as("sub_id"),
                       slice(dvec, s * dsub + 1, lit(dsub)).as("sv")))).as("e"))
      .select(col("id"), col("e.sub_id").as("sub_id"), col("e.sv").as("sv"))
      .transform(graft.CacheScope.pin)

    // seed filter is on the RAW row_number (rank <= k pattern), not a
    // derived `code < codes` alias: InferWindowGroupLimit only
    // recognizes the former, and losing it turns the seed pass into a
    // full sort of the subvector frame shuffled into nsub partitions
    // (harmless on a 1k-row sample, a straggler on an unsampled corpus)
    var cb = subv
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("sub_id"))
          .orderBy(col("id").asc)))
      .filter(col("__rn") <= codes)
      .select(col("sub_id"), (col("__rn") - 1).as("code"),
              col("sv").as("cvec"))
    for (_ <- 1 to iters) {
      val folded = broadcast(foldPqCodebook(cb))
      val assigned = subv.crossJoin(folded)
        .select(col("sub_id"), col("sv"),
          nearestCode(col("sv"),
            element_at(col("__pqcb"), col("sub_id") + 1)
              .getField("entries")).as("code"))
      val means = assigned
        .groupBy(col("sub_id"), col("code"))
        .agg(graft.functions.VectorAggregates.vectorSum(col("sv"))
               .as("vsum"),
             count(col("sv")).as("cnt"))
        .select(col("sub_id"), col("code"),
                transform(col("vsum"), x => x / col("cnt")).as("mvec"))
      val prev = cb
      cb = cb.join(means, Seq("sub_id", "code"), "left")
        .select(col("sub_id"), col("code"),
                coalesce(col("mvec"), col("cvec")).as("cvec"))
        .transform(graft.CacheScope.pin)
      cb.count()
      prev.unpersist(false)
    }
    cb
  }

  /** Encode every vector as its nsub PQ codes — the 4·d-bytes → nsub-bytes
    * compression pass, one scan, zero exchanges (per-row argmin against
    * the folded broadcast codebook). Rows whose vector length doesn't
    * match the codebook's nsub·dsub are excluded (not encodable).
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               cb: DataFrame): DataFrame = {
    val (nsub, dsub) = pqShape(cb)
    emb.filter(size(col(vecCol)) === nsub * dsub)
      .crossJoin(broadcast(foldPqCodebook(cb)))
      .select(col(idCol),
              pqCodesExpr(transform(col(vecCol), x => x.cast("double")),
                          col("__pqcb"), nsub, dsub).as("pq_codes"))
  }

  private def pqShape(cb: DataFrame): (Int, Int) = {
    val r = cb.agg(countDistinct(col("sub_id")),
                   max(size(col("cvec")))).head()
    (r.getLong(0).toInt, r.getInt(1))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the raw (unquantized)
    * probe builds an nsub×k table of partial squared distances to every
    * codeword — ONE tiny frame from the codebook alone, no corpus scan —
    * and each document's approximate distance is the sum of nsub table
    * lookups on its codes. The serving shape at 100 TB: the corpus is
    * read as nsub-byte codes (32× less IO than float), never shuffled,
    * and the top-k is TakeOrderedAndProject ascending. Returns
    * (id, dist2) — rounded, id tie-break, deterministic.
    */
  /** The nsub×k ADC table for one probe, folded into ONE broadcastable
    * row `__adc`: per (sub, code), the partial squared distance from the
    * probe's subvector to that codeword — built from the codebook and
    * the (one-row) probe frame alone, no corpus scan. Shared by pqTopK
    * and the composed IVF×PQ serve.
    */
  private def adcFoldedTable(cb: DataFrame, probe: DataFrame, dsub: Int,
                             keyCols: Seq[String] = Nil): DataFrame = {
    // keyCols carry a per-probe-variant key through the fold (the
    // residual serve builds one table PER PROBED LIST, keyed by lid);
    // empty keyCols = the single-table global fold
    import graft.functions.VectorExpressions.dotProduct
    val sub = slice(col("__pv"), col("sub_id") * dsub + 1, lit(dsub))
    val key = keyCols.map(col)
    broadcast(cb.crossJoin(probe)
      .select(key :+ col("sub_id") :+ col("code") :+
        (dotProduct(sub, sub) -
         lit(2.0) * dotProduct(sub, col("cvec")) +
         dotProduct(col("cvec"), col("cvec"))).as("pd2"): _*)
      .groupBy(key :+ col("sub_id"): _*)
      .agg(array_sort(collect_list(struct(
             col("code").cast("int").as("code"),
             col("pd2").as("pd2")))).as("entries"))
      .groupBy(key: _*)
      .agg(array_sort(collect_list(struct(
             col("sub_id").cast("int").as("sub"),
             col("entries").as("entries")))).as("__adc")))
  }

  /** Approximate squared distance = sum of nsub ADC-table lookups on a
    * row's `pq_codes` (rounded; reads the `__adc` fold).
    * try_element_at, not element_at: a degenerate probe leaves __adc
    * EMPTY, and ANSI element_at throws on an out-of-bounds index
    * instead of returning null.
    */
  private def adcDist2(nsub: Int): Column =
    round(aggregate(
      zip_with(col("pq_codes"),
               sequence(lit(0), lit(nsub - 1)),
               (code, s) => try_element_at(
                 try_element_at(col("__adc"), s + 1).getField("entries"),
                 code + 1).getField("pd2")),
      lit(0.0), (acc, x) => acc + x), 6)

  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, cb: DataFrame,
             probeId: Long, k: Int = 10): DataFrame = {
    val (nsub, dsub) = pqShape(cb)
    val probe = broadcast(
      emb.filter(col(idCol) === probeId)
        .select(transform(col(vecCol), x => x.cast("double")).as("__pv")))
    val foldedTable = adcFoldedTable(cb, probe, dsub)
    // inline encode against ONE folded broadcast (pqEncode would re-fold
    // and re-probe the codebook shape — two extra driver jobs).
    // spreadSmallScan: the corpus-side encode+ADC is the query's compute;
    // don't let it ride a single-row-group scan on one core (gated no-op
    // on any real multi-split corpus)
    graft.ops.CoreOps.spreadSmallScan(
        emb.filter(col(idCol) =!= probeId &&
                     size(col(vecCol)) === nsub * dsub), col(idCol))
      .crossJoin(broadcast(foldPqCodebook(cb)))
      .select(col(idCol),
              pqCodesExpr(transform(col(vecCol), x => x.cast("double")),
                          col("__pqcb"), nsub, dsub).as("pq_codes"))
      .crossJoin(foldedTable)
      .select(col(idCol), adcDist2(nsub).as("dist2"))
      // degenerate-probe guard: an absent probeId (or a probe whose
      // length mismatches the codebook) leaves foldedTable's collect_list
      // empty, every lookup null, and dist2 null on EVERY row — which
      // would "win" the ascending top-k (nulls first). No distance ⇒ no
      // result row, matching int8TopK's empty-probe behavior.
      .filter(col("dist2").isNotNull)
      .orderBy(col("dist2").asc, col(idCol).asc)
      .limit(k)
  }

  /** Total squared reconstruction error of a codebook over a corpus —
    * the PQ training objective (monotone non-increasing under Lloyd
    * iterations; spec-asserted).
    */
  def pqDistortion(emb: DataFrame, idCol: String, vecCol: String,
                   cb: DataFrame): Double = {
    val (nsub, dsub) = pqShape(cb)
    val folded = broadcast(foldPqCodebook(cb))
    emb.filter(size(col(vecCol)) === nsub * dsub)
      .crossJoin(folded)
      .select(aggregate(
        transform(sequence(lit(0), lit(nsub - 1)), s => {
          val sv = slice(transform(col(vecCol), x => x.cast("double")),
                         s * dsub + 1, lit(dsub))
          // true ‖sv−c*‖² = ‖sv‖² + min over entries of (‖c‖² − 2·sv·c)
          val minObj = aggregate(
            element_at(col("__pqcb"), s + 1).getField("entries"),
            lit(Double.MaxValue),
            (acc, e) => least(acc,
              e.getField("c2") - lit(2.0) * graft.functions
                .VectorExpressions.dotProduct(sv, e.getField("c"))))
          graft.functions.VectorExpressions.dotProduct(sv, sv) + minObj
        }),
        lit(0.0), (acc, x) => acc + x).as("e2"))
      .agg(sum(col("e2"))).head().getDouble(0)
  }

  /** Top-k cosine over INT8-QUANTIZED codes — the serving path after
    * `quantizeInt8` compresses a float corpus 4× (the memory/IO knob
    * that decides whether a 100 TB embedding table fits its cluster).
    * Same broadcast-probe / single-scan / TakeOrderedAndProject shape as
    * `topKNeighbors`, but similarity is computed over the codes.
    *
    * Two properties make this EXACTLY oracle-checkable (unlike typical
    * approximate search): cosine over codes is SCALE-FREE (each vector's
    * per-vector scale cancels between numerator and norms), and every
    * dot is a sum of integer products ≤ 127²·d — exact in double in ANY
    * summation order, so Spark and the SQL twin agree to the last bit
    * before the one final division. Zero vectors (all-zero codes) have
    * no direction and are excluded, matching quantizeInt8's defined-null
    * contract for degenerate inputs.
    */
  def int8TopK(emb: DataFrame, idCol: String, vecCol: String,
               probeId: Long, k: Int = 10): DataFrame = {
    // fused native quantize (Int8Codes): one codegen'd pass per row,
    // bit-identical to quantizeInt8's qvec cast to double — replacing
    // three interpreted HOF walks per consumer. Both consumers stay
    // cheap single passes (the probe side is filter-pushed to one row),
    // so no persist is warranted.
    val codes = emb.select(
        col(idCol),
        graft.functions.VectorExpressions.int8Codes(col(vecCol)).as("qd"))
      .filter(col("qd").isNotNull)
    val probe = broadcast(
      codes.filter(col(idCol) === probeId).select(col("qd").as("pd")))
    import graft.functions.VectorExpressions.dotProduct
    codes.filter(col(idCol) =!= probeId)
      .crossJoin(probe)
      .withColumn("nrm2", dotProduct(col("qd"), col("qd")))
      .filter(col("nrm2") > 0)
      .withColumn("sim",
        round(dotProduct(col("qd"), col("pd")) /
          (sqrt(col("nrm2")) * sqrt(dotProduct(col("pd"), col("pd")))), 6))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("sim"))
  }

  /** Label-centroid cosine OUTLIERS: the embedding-space data-quality
    * gate — vectors far from their own label's centroid are the
    * mislabeled/noise candidates a curation pipeline routes to review
    * (the embedding twin of the text quality score). Returns the k most
    * anomalous (lowest cosine-to-own-centroid) rows.
    *
    * Scale shape: centroids come from ONE partial-aggregated pass (the
    * native vector_sum aggregate — map-side combine, never a collect),
    * the (n_labels × d) centroid table is genuinely tiny so its
    * broadcast is principled (unlike broadcasting a corpus), similarity
    * is the fused codegen'd cosine, and the top-k is orderBy+limit =
    * TakeOrderedAndProject. The corpus is scanned twice (sum pass, score
    * pass) and never shuffled. Rows with a null vector are dropped (no
    * similarity is definable; keeps Spark's nulls-first sort and the SQL
    * oracle's no-unnest-rows semantics aligned).
    */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, k: Int = 10): DataFrame = {
    val cents = emb.groupBy(col(labelCol))
      .agg(graft.functions.VectorAggregates.vectorSum(col(vecCol))
             .as("vsum"),
           count(col(vecCol)).as("nv"))
      .select(col(labelCol),
              transform(col("vsum"), x => x / col("nv")).as("centroid"))
    emb.join(broadcast(cents), labelCol)
      .select(col(idCol), col(labelCol),
              round(cosineSim(col(vecCol), col("centroid")), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").asc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF index (assignments + codebook) as parquet, with the
    * assignments PARTITIONED BY list_id — Hive-style directories are the
    * on-disk inverted-list layout: an `nprobe` query's
    * `list_id ∈ probes` predicate prunes the scan to `nprobe`
    * directories at planning time, so serving cost is proportional to
    * the lists probed, not the corpus (the point of IVF). Training is a
    * write-time job; queries in later sessions `loadIndex` without
    * re-training or re-assigning.
    *
    * One file per list via repartition on the partition column (the
    * Sinks.partitioned discipline): without it every task writes a
    * fragment into every list directory — shufflePartitions × nlist
    * small files.
    */
  def saveIndex(assigned: DataFrame, cents: DataFrame, path: String): Unit = {
    assigned
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/lists")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Load a saved IVF index → (assigned, codebook), query-ready for
    * `ivfTopK`. The embedding/id column names are whatever the saved
    * `assigned` frame carried; `list_id` comes back from the partition
    * directories (as int — parquet partition-column inference).
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, DataFrame) =
    (Tables.read(spark, s"$path/lists"),
     Tables.read(spark, s"$path/codebook"))

  /** INCREMENTAL index maintenance: assign a NEW vector batch against
    * the SAVED codebook and append into the existing list directories —
    * index freshness without retraining or touching the standing
    * billions of rows (the production cadence: retrain the coarse
    * quantizer rarely, append batches continuously). The append is one
    * zero-shuffle assignment pass over the batch plus a write-side
    * repartition on list_id (the saveIndex one-file-per-list
    * discipline); dynamic partition append only creates/extends the
    * directories the batch actually lands in.
    *
    * Drift contract: appended vectors quantize against the FROZEN
    * codebook, so recall for them degrades as the data distribution
    * drifts from it — the accepted trade every IVF deployment makes
    * between freshness and retrain cost. The spec pins
    * append-then-serve ≡ rebuild-then-serve for the same codebook.
    *
    * Retry safety: ids already present in the index are anti-joined
    * away before the append (one scan of the index's ID column only —
    * every other column prunes), so re-running a batch after a
    * crashed-after-commit attempt cannot double-insert — plain
    * mode("append") alone has exactly the duplicate-on-retry failure
    * the incremental-loading notes call out for the reference.
    */
  def appendIndex(newEmb: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val spark = newEmb.sparkSession
    val cents = Tables.read(spark, s"$path/codebook")
    val existing = Tables.read(spark, s"$path/lists").select(col(idCol))
    ivfAssignTo(newEmb.join(existing, Seq(idCol), "left_anti"),
                idCol, vecCol, cents)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$path/lists")
    graft.io.Sinks.invalidate(spark, path)
  }

  /** Day-2 closure of the `appendIndex` drift contract: RETRAIN the
    * coarse quantizer on the index's own current contents and rebuild
    * the lists, swapping the whole index root atomically — `indexDrift`
    * is the trigger signal ("retrain now?"), this is the action. The
    * training passes and the rebuild read the standing `lists/` to
    * completion BEFORE anything moves (the stagedReplace contract:
    * stage-write, then target → __old, stage → target), so a crash at
    * any instant leaves either the old or the new index serving —
    * never a partial one — and concurrent readers of the old index
    * stay correct throughout the rebuild.
    *
    * Scale shape: `ivfTrain` is iters scan passes over the index (each
    * a zero-shuffle folded-codebook assignment plus ONE partial
    * aggregation — its scaladoc); the rebuild is one more assignment
    * pass plus saveIndex's write-side repartition on list_id. Nothing
    * is collected and the corpus is never memory-resident, so the cost
    * is iters+1 scans — the retrain cadence every IVF deployment
    * amortizes against appendIndex's recall decay.
    */
  def reindex(spark: org.apache.spark.sql.SparkSession, path: String,
              idCol: String, vecCol: String, nlist: Int,
              iters: Int): Unit =
    graft.io.Sinks.stagedReplace(spark, path) { stage =>
      val emb = Tables.read(spark, s"$path/lists")
        .select(col(idCol), col(vecCol))
      val cents = ivfTrain(emb, idCol, vecCol, nlist, iters)
      saveIndex(ivfAssignTo(emb, idCol, vecCol, cents), cents, stage)
      cents.unpersist(false)
    }

  /** GDPR delete INSIDE the persisted IVF index (the forget must reach
    * derived artifacts, not just the source table): physically rewrite
    * ONLY the list directories containing forgotten ids. One id-side
    * semi-join finds the affected lists (id column scan, every other
    * column prunes); their surviving rows are frozen via an eager
    * localCheckpoint (they must be fully READ before the dynamic
    * overwrite replaces the very directories they came from), then
    * written back with dynamic partition overwrite — untouched lists
    * keep their files byte-identical. An affected list whose EVERY
    * member was forgotten emits no rows, which dynamic overwrite would
    * silently leave in place, so those directories are dropped
    * explicitly. Cost ∝ affected-list volume; a forget set touching
    * most lists is a `reindex`-shaped rewrite instead.
    *
    * Crash contract: the per-partition commit is not atomic across
    * lists — a crash can leave SOME lists rewritten — but the operation
    * is idempotent (anti-join of already-clean lists is a no-op), so
    * re-running completes the delete; it can never duplicate.
    */
  def forgetFromIndex(ids: DataFrame, idCol: String,
                      path: String): Unit = {
    val spark = ids.sparkSession
    val lists = Tables.read(spark, s"$path/lists")
    val affected = lists.join(ids, Seq(idCol), "left_semi")
      .select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) return
    val keep = lists
      .filter(col("list_id").isInCollection(affected))
      .join(ids, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    keep.repartition(col("list_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("list_id").parquet(s"$path/lists")
    val survivors = keep.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected -- survivors).foreach { lid =>
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/lists/list_id=$lid"), true)
    }
    graft.io.Sinks.invalidate(spark, path)
    graft.CacheScope.unpersist(keep)
  }

  // ---------------------------------------------------------- IVF × PQ

  /** Build the COMPOSED IVF×PQ index (Jégou TPAMI'11 §IV: coarse
    * quantizer prunes, product codes rank): one scan pass computes both
    * each vector's inverted list (argmax cosine against the IVF
    * codebook) and its nsub PQ codes (per-subspace argmin against the
    * PQ codebook) — the two codebooks fold into one broadcast row each.
    * The corpus itself is never shuffled at scale: on any multi-split
    * corpus the only exchange is saveIndexPq's write-side repartition;
    * the gated `spreadSmallScan` below adds one corpus-side hash
    * exchange ONLY when the scan plans below the session parallelism
    * (single-row-group bench files — a plan no-op on a real corpus).
    * This is the production ANN
    * serving layout at 100 TB: lists prune the scan to nprobe
    * directories at planning time, and what's scanned is nsub bytes
    * per vector, not 4·d floats.
    *
    * Returns (id, list_id, pq_codes); vectors whose length mismatches
    * the PQ codebook are excluded (not encodable — the pqEncode
    * contract).
    */
  def ivfPqBuild(emb: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame, pqCb: DataFrame,
                 residual: Boolean = false): DataFrame = {
    val (nsub, dsub) = pqShape(pqCb)
    val dvec = transform(col(vecCol), x => x.cast("double"))
    // residual mode (Jégou TPAMI'11 §IV.B, the textbook IVFADC): PQ
    // encodes x − c_list, not x. Residuals concentrate near zero once
    // the coarse quantizer has soaked up the between-cluster variance,
    // so the same bits buy finer cells (spec: lower distortion on
    // clustered data). The centroid lookup indexes the folded codebook
    // by the just-computed list id — still one projection, zero
    // exchanges. pqCb must then be TRAINED on residuals (ivfResiduals).
    def codesInput(listId: Column): Column =
      if (!residual) dvec
      else zip_with(dvec,
                    element_at(col("__cb"), listId + 1).getField("c"),
                    (a, b) => a - b)
    // per-row encode is the expensive part (nlist cosines + nsub·codes
    // argmins per vector); floor the scan parallelism first so it never
    // rides a single-row-group file on one core (r11: 2.43 s single-task
    // serve stage; the gate keeps a real multi-split corpus untouched)
    graft.ops.CoreOps.spreadSmallScan(
        emb.filter(size(col(vecCol)) === nsub * dsub), col(idCol))
      .crossJoin(broadcast(foldIvfCodebook(cents)))
      .crossJoin(broadcast(foldPqCodebook(pqCb)))
      .withColumn("list_id", nearestListExpr(col(vecCol), col("__cb")))
      .select(col(idCol), col("list_id"),
              pqCodesExpr(codesInput(col("list_id")),
                          col("__pqcb"), nsub, dsub).as("pq_codes"))
  }

  /** Per-vector coarse residuals x − c_assigned(x) — the training input
    * for a residual-mode PQ codebook (`ivfPqBuild(residual = true)`).
    * One projection against the folded broadcast codebook; returns
    * (idCol, rvec: array<double>).
    */
  def ivfResiduals(emb: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame): DataFrame = {
    val dvec = transform(col(vecCol), x => x.cast("double"))
    emb.crossJoin(broadcast(foldIvfCodebook(cents)))
      .withColumn("__l", nearestListExpr(col(vecCol), col("__cb")))
      .select(col(idCol),
              zip_with(dvec,
                       element_at(col("__cb"), col("__l") + 1).getField("c"),
                       (a, b) => a - b).as("rvec"))
  }

  /** Serve ADC top-k WITHIN the nprobe nearest inverted lists: rank
    * lists by the ASSIGNMENT metric (argmax cosine — pruning must
    * probe the cells ivfPqBuild actually filled; ranking lists by a
    * different geometry, e.g. L2 against unnormalized k-means
    * centroids, can exclude the very list the neighbors were assigned
    * to), prune the index to those lists (a planning-time partition
    * prune when `index` was loadIndexPq'd from the partitioned
    * layout), then rank the survivors by the summed L2 ADC table
    * lookups on their codes.
    *
    * `index` is (id, list_id, pq_codes) from ivfPqBuild/loadIndexPq;
    * `emb` supplies only the raw probe vector. Degenerate probes
    * (absent id, length mismatch) return EMPTY — the pqTopK contract.
    */
  def ivfPqTopK(index: DataFrame, cents: DataFrame, pqCb: DataFrame,
                emb: DataFrame, idCol: String, vecCol: String,
                probeId: Long, k: Int = 10, nprobe: Int = 1,
                residual: Boolean = false): DataFrame = {
    val (nsub, dsub) = pqShape(pqCb)
    val probe = broadcast(
      emb.filter(col(idCol) === probeId &&
                   size(col(vecCol)) === nsub * dsub)
        .select(transform(col(vecCol), x => x.cast("double")).as("__pv")))
    val targetLists = broadcast(
      cents.crossJoin(probe)
        .withColumn("csim", cosineSim(col("cvec"), col("__pv")))
        .orderBy(col("csim").desc, col("list_id").asc)
        .limit(nprobe)
        .select(col("list_id").cast("int").as("lid"),
                transform(col("cvec"), x => x.cast("double")).as("__c")))
    val scored =
      if (!residual) {
        val foldedTable = adcFoldedTable(pqCb, probe, dsub)
        index
          .join(targetLists.select(col("lid")), col("list_id") === col("lid"))
          .crossJoin(foldedTable)
      } else {
        // residual mode: ‖r_p − q(r_x)‖² with r_p = p − c_list, so the
        // ADC table differs PER PROBED LIST — nprobe tables built from
        // the codebooks alone (nprobe·nsub·k rows, still tiny), folded
        // per lid through the shared adcFoldedTable keyed fold; each
        // corpus row picks its list's table through the pruning join
        val probeResiduals = targetLists.crossJoin(probe)
          .select(col("lid"),
                  zip_with(col("__pv"), col("__c"), (a, b) => a - b)
                    .as("__pv"))
        index.join(adcFoldedTable(pqCb, probeResiduals, dsub, Seq("lid")),
                   col("list_id") === col("lid"))
      }
    scored
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), adcDist2(nsub).as("dist2"))
      .filter(col("dist2").isNotNull)
      .orderBy(col("dist2").asc, col(idCol).asc)
      .limit(k)
  }

  /** Persist the composed index: PQ-coded lists partitioned by list_id
    * (the saveIndex layout — nprobe queries prune to nprobe directories
    * at planning time, and each directory holds nsub-byte codes instead
    * of float vectors) plus BOTH codebooks.
    */
  def saveIndexPq(lists: DataFrame, cents: DataFrame, pqCb: DataFrame,
                  path: String, residual: Boolean = false): Unit = {
    saveIndex(lists, cents, path)
    pqCb.coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebook")
    // the encoding mode is part of the index, not the caller's memory:
    // serving a residual index with raw ADC tables returns garbage
    // silently, so the flag persists alongside the codes
    val spark = lists.sparkSession
    import spark.implicits._
    Seq(residual).toDF("residual").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a saved IVF×PQ index → (lists, ivf codebook, pq codebook),
    * query-ready for `ivfPqTopK` (pass `indexIsResidual` through).
    */
  def loadIndexPq(spark: org.apache.spark.sql.SparkSession,
                  path: String): (DataFrame, DataFrame, DataFrame) =
    (Tables.read(spark, s"$path/lists"),
     Tables.read(spark, s"$path/codebook"),
     Tables.read(spark, s"$path/pq_codebook"))

  /** The persisted encoding mode of a saved IVF×PQ index; indexes from
    * before the marker (no meta dir) read as raw.
    */
  def indexIsResidual(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean =
    try Tables.read(spark, s"$path/meta").head().getBoolean(0)
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  // ------------------------------------------------------ quality / ops

  /** Recall@k of the IVF index across an `nprobes` grid, against the
    * EXACT brute-force twin — the ANN quality dial as a QUERY instead
    * of a fixed spec point: "what does nprobe buy me on MY data" is the
    * number every IVF deployment tunes against (the recall/latency
    * curve in Jégou TPAMI'11 §V; faiss publishes the same sweep).
    *
    * One row per grid point, on the SHARED eval contract (q_lsh_eval /
    * pqEval emit the same tail): (nprobe, k, n_probes, n_candidates,
    * n_verified, recall, precision). recall = mean over probes of
    * |approx top-k ∩ exact top-k| / |exact top-k| (the denominator is
    * min(k, corpus−1), so tiny corpora don't deflate the metric);
    * n_candidates = the scanned candidate volume at that nprobe (the
    * cost driver); n_verified = total true-neighbor hits; precision =
    * n_verified / n_candidates (scan efficiency — of everything the
    * probed lists made you score, what fraction was a true top-k
    * neighbor). Probes absent from the index contribute nothing.
    *
    * Scale shape — the grid does NOT multiply corpus passes:
    *  1. the (tiny) codebook is ranked ONCE per probe (rl = 1..nlist by
    *     assignment cosine — the ivfPqTopK pruning geometry);
    *  2. ONE candidate pass joins each corpus row to just the probes
    *     whose rl ≤ max(grid) lists include it — bounded by the
    *     largest grid point's probe volume, never |corpus|·|probes| —
    *     and the scored candidate frame persists (CACHE OWNERSHIP:
    *     caller releases);
    *  3. ONE mergeable top-k+count aggregate over that cached frame
    *     (each candidate fans out to the grid points whose nprobe
    *     covers its list rank) yields every grid point's approx top-k
    *     and candidate volume — work proportional to candidates, not
    *     corpus, and never repeated per grid value;
    *  4. ground truth is one batched `knnJoin` (corpus scanned once).
    */
  def annEval(assigned: DataFrame, cents: DataFrame, idCol: String,
              vecCol: String, probeIds: Seq[Long], k: Int,
              nprobes: Seq[Int]): DataFrame = {
    require(probeIds.nonEmpty, "annEval needs at least one probe id")
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
            s"nprobes must be >= 1, got $nprobes")
    val maxProbe = nprobes.max
    val probeAny = probeIds.map(_.asInstanceOf[Any])
    val probes = assigned.filter(col(idCol).isin(probeAny: _*))
      .select(col(idCol).as("pid"), col(vecCol).as("__pv"))
    // rank the codebook per probe — a |probes|·nlist frame, tiny by
    // construction, so the window over it is principled
    val probeLists = broadcast(
      cents.crossJoin(broadcast(probes))
        .withColumn("rl", row_number().over(
          Window.partitionBy(col("pid"))
            .orderBy(cosineSim(col("cvec"), col("__pv")).desc,
                     col("list_id").asc)))
        .filter(col("rl") <= maxProbe)
        .select(col("pid"), col("__pv"),
                col("list_id").cast("int").as("lid"), col("rl")))
    val cand = assigned
      .join(probeLists, col("list_id").cast("int") === col("lid"))
      .filter(col(idCol) =!= col("pid"))
      // degenerate corpus vectors (null/empty/zero-norm/mismatched dim)
      // score null from cosineSim; they must still COUNT as scanned
      // candidates (the nprobe cost accounting) but can never rank, so
      // they enter the typed top-k pass as -Inf — the window form this
      // replaced ordered them last (desc = NULLS LAST) with the same
      // effect, and a bare null would crash the non-nullable decode
      .select(col("pid"), col("rl"), col(idCol).as("nid"),
              coalesce(round(cosineSim(col(vecCol), col("__pv")), 6),
                       lit(Double.NegativeInfinity)).as("sim"))
      .transform(graft.CacheScope.pin)
    // exact twin, self-matches excluded then re-ranked to k (knnJoin's
    // window includes the query itself at sim 1.0)
    val exact = knnJoin(probes.select(col("pid").as(idCol),
                                      col("__pv").as(vecCol)),
                        assigned.select(col(idCol), col(vecCol)),
                        idCol, vecCol, k + 1)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("__rn") <= k)
      .select(col("query_id").as("pid"), col("neighbor_id").as("nid"))
      .transform(graft.CacheScope.pin)
    val grid = nprobes.distinct.sorted
    val spark = assigned.sparkSession
    import spark.implicits._
    // the WHOLE grid in ONE pass over the pinned candidate cache:
    // rl <= n is cumulative, so each candidate fans out to exactly the
    // grid points that would scan it (≤ |grid| copies of an 8-byte-ish
    // row), and a single mergeable top-k+count aggregate
    // (TopKCountAggregator) yields every (probe, nprobe)'s approx
    // top-k AND candidate volume with a shuffle bounded by
    // k·|probes|·|grid|. The per-grid-point branch union it replaces
    // re-read the cache, re-windowed, and re-aggregated once per grid
    // value — ~8 exchanges × |grid| of AQE fixed cost (measured:
    // q_ann_eval 1.0 → 1.9 s at sf0.1 on the 4-point grid).
    val perPidN = cand
      .select(col("pid").cast("long"), col("nid").cast("long"),
              col("sim").cast("double"), col("rl").cast("int"))
      .as[(Long, Long, Double, Int)]
      .flatMap { case (pid, nid, sim, rl) =>
        grid.collect { case n if n >= rl => ((pid, n), (sim, nid)) } }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.ops.TopK.topKPairsDescWithCount(k).toColumn.name("tc"))
      .map { case ((pid, n), (cnt, top)) => (pid, n, cnt, top.map(_._2)) }
      .toDF("pid", "__n", "__pc", "__nids")
    // hits via bounded array-intersect against the (persisted,
    // k·|probes|-row) exact twin — broadcast, no shuffle; a probe with
    // no exact row contributes 0 recall mass, same as the join shape
    // it replaces
    val exactArr = exact.groupBy(col("pid"))
      .agg(collect_list(col("nid")).as("__en"), count(lit(1)).as("__ec"))
    val perN = perPidN.join(broadcast(exactArr), Seq("pid"), "left_outer")
      .select(col("__n"), col("__pc"),
              coalesce(size(array_intersect(col("__en"), col("__nids")))
                .cast("long"), lit(0L)).as("__h"),
              col("__ec"))
      .select(col("__n"), col("__pc"), col("__h"),
              when(col("__ec").isNull, lit(0.0))
                .otherwise(col("__h").cast("double") / col("__ec"))
                .as("__r"))
      .groupBy(col("__n"))
      .agg(sum(col("__pc")).as("n_candidates"),
           sum(col("__h")).as("n_verified"),
           sum(col("__r")).as("__sumr"))
    // left join from the grid literals so a grid point nobody's
    // candidates reach still emits its (0-candidate, recall-0) row;
    // recall divides by the TOTAL probe count (probes missing at a
    // grid point are 0-recall terms, exactly the old avg's semantics)
    val probeStats = exactArr.agg(count(lit(1)).as("n_probes"))
    grid.toDF("nprobe")
      .join(perN, col("nprobe") === col("__n"), "left_outer")
      .crossJoin(broadcast(probeStats))
      .select(col("nprobe"), lit(k).as("k"), col("n_probes"),
              coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
              coalesce(col("n_verified"), lit(0L)).as("n_verified"),
              round(coalesce(col("__sumr"), lit(0.0)) /
                col("n_probes"), 6).as("recall"))
      .withColumn("precision",
        round(when(col("n_candidates") === 0, 1.0)
          .otherwise(col("n_verified").cast("double") /
            col("n_candidates")), 6))
      .orderBy(col("nprobe"))
  }

  /** Recall@k across PQ CODEBOOK configurations — the bits half of the
    * ANN quality grid (annEval sweeps nprobe): "what do nsub/codes buy
    * me on MY data" for the compression/recall trade (Jégou TPAMI'11
    * §V sweeps exactly this). Caller trains the codebooks (pqTrain
    * with different nsub/codes — they're independent write-time jobs);
    * pqEval scores each against the EXACT L2 twin. One row per config
    * on the SHARED eval contract (annEval / q_lsh_eval emit the same
    * tail): (config, k, n_probes, n_candidates, n_verified, recall,
    * precision) — recall = mean over probes of |ADC top-k ∩ exact
    * top-k| / |exact top-k|; n_candidates = ADC-scored pair volume
    * (for this full-scan eval that is ~|corpus|·|probes| — the number
    * that motivates IVF pruning); precision = n_verified/n_candidates.
    *
    * Scale shape: the exact ground truth is ONE batched pass (probe
    * batch broadcast, corpus scanned once, WindowGroupLimit-bounded
    * per-probe top-k — the knnJoin economics, cached for the whole
    * grid). Each config costs one encode pass over the corpus against
    * its folded codebook plus per-probe ADC table lookups — corpus
    * passes scale with |configs| (different codebooks genuinely
    * re-encode), never with |probes|.
    */
  def pqEval(emb: DataFrame, idCol: String, vecCol: String,
             codebooks: Seq[(String, DataFrame)], probeIds: Seq[Long],
             k: Int): DataFrame = {
    require(codebooks.nonEmpty, "pqEval needs at least one codebook")
    require(probeIds.nonEmpty, "pqEval needs at least one probe id")
    import graft.functions.VectorExpressions.dotProduct
    val probeAny = probeIds.map(_.asInstanceOf[Any])
    val dvec = transform(col(vecCol), x => x.cast("double"))
    val probes = emb.filter(col(idCol).isin(probeAny: _*))
      .select(col(idCol).as("pid"), dvec.as("__pv"))
    // exact L2 ground truth (rounded, id tie-break — the pqTopK
    // determinism discipline), one batched pass, cached for the grid
    val exact = emb.select(col(idCol).as("nid"), dvec.as("__cv"))
      .crossJoin(broadcast(probes))
      .filter(col("nid") =!= col("pid"))
      .withColumn("d2", round(
        dotProduct(col("__cv"), col("__cv")) -
          lit(2.0) * dotProduct(col("__cv"), col("__pv")) +
          dotProduct(col("__pv"), col("__pv")), 6))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("pid"))
          .orderBy(col("d2").asc, col("nid").asc)))
      .filter(col("__rn") <= k)
      .select(col("pid"), col("nid"))
      .transform(graft.CacheScope.pin)
    codebooks.map { case (label, cb) =>
      val (nsub, dsub) = pqShape(cb)
      val codes = emb.filter(size(col(vecCol)) === nsub * dsub)
        .crossJoin(broadcast(foldPqCodebook(cb)))
        .select(col(idCol).as("nid"),
                pqCodesExpr(transform(col(vecCol), x => x.cast("double")),
                            col("__pqcb"), nsub, dsub).as("pq_codes"))
      // deliberately NOT pinned — and everything downstream is a SINGLE
      // consumer, so the fused encode+score scan runs exactly once per
      // config. (A cache boundary here was measured ~1 s SLOWER — it
      // breaks the encode+score codegen fusion; and a separate
      // scored.agg(count) accounting branch re-ran the whole unpinned
      // scan: measured q_pq_eval 2.7 → 4.7 s at sf0.1.)
      val scored = codes
        .crossJoin(adcFoldedTable(cb, probes, dsub, Seq("pid")))
        .filter(col("nid") =!= col("pid"))
        .select(col("pid"), col("nid"), adcDist2(nsub).as("dist2"))
        .filter(col("dist2").isNotNull)
      // top-k AND candidate volume from ONE mergeable aggregate
      // (TopKCountAggregator): map-side partials bound the shuffle at
      // k rows + one count per (partition, probe) — no rank window, no
      // second scan, and the shape survives a 100 TB corpus where a
      // per-probe window would ship |corpus|·|probes| rows to |probes|
      // partitions
      val agged = {
        val spark = emb.sparkSession
        import spark.implicits._
        scored.select(col("pid").cast("long"), col("nid").cast("long"),
                      col("dist2").cast("double"))
          .as[(Long, Long, Double)]
          .groupByKey(_._1)
          .mapValues { case (_, nid, d2) => (d2, nid) }
          .agg(graft.ops.TopK.topKPairsAscWithCount(k).toColumn.name("tc"))
          .map { case (pid, (cnt, top)) => (pid, cnt, top.map(_._2)) }
          .toDF("pid", "__pc", "__nids")
      }
      // hits = |approx top-k ∩ exact top-k| as a bounded array
      // intersect against the (persisted, k·|probes|-row) exact twin —
      // broadcast join, no shuffle; probes are corpus members, so every
      // scored pid appears in exact and the left_outer drops nothing
      val exactArr = exact.groupBy(col("pid"))
        .agg(collect_list(col("nid")).as("__en"),
             count(lit(1)).as("__ec"))
      exactArr.join(broadcast(agged), Seq("pid"), "left_outer")
        .select(
          coalesce(size(array_intersect(col("__en"), col("__nids")))
            .cast("long"), lit(0L)).as("__h"),
          col("__pc"), col("__ec"))
        .select(col("__h"),
                (col("__h").cast("double") / col("__ec")).as("__r"),
                col("__pc"))
        .agg(count(lit(1)).as("n_probes"),
             round(avg(col("__r")), 6).as("recall"),
             sum(col("__h")).as("n_verified"),
             coalesce(sum(col("__pc")), lit(0L)).as("n_candidates"))
        .select(lit(label).as("config"), lit(k).as("k"),
                col("n_probes"), col("n_candidates"),
                coalesce(col("n_verified"), lit(0L)).as("n_verified"),
                col("recall"),
                round(when(col("n_candidates") === 0, 1.0)
                  .otherwise(col("n_verified").cast("double") /
                    col("n_candidates")), 6).as("precision"))
    }.reduce(_ unionByName _)
  }

  /** Per-list DRIFT report for a saved IVF index vs an incoming batch —
    * the "retrain now" signal `appendIndex`'s freshness contract
    * promises: appended vectors quantize against the FROZEN codebook,
    * so as the data distribution drifts, the batch's
    * assignment quality (cosine to its assigned centroid) degrades
    * relative to the standing corpus that shaped the codebook. One row
    * per list: member counts and mean assignment cosine for the
    * standing index and for the batch (as it WOULD be assigned), and
    * `drift` = sim_index − sim_batch — positive drift on a list means
    * new data fits it worse than the old; sustained positive drift
    * across lists (or mass concentrating in few lists) is the retrain
    * trigger. Run it BEFORE `appendIndex` on each batch and store the
    * report next to the index for a drift time-series.
    *
    * Scale shape: two scans (standing lists, batch), each a zero-
    * shuffle broadcast-codebook cosine projection; the per-list
    * aggregate ships (list_id, sim) pairs with map-side combine — the
    * corpus vectors never shuffle. Degenerate vectors (null cosine)
    * are excluded from the means.
    */
  def indexDrift(newEmb: DataFrame, idCol: String, vecCol: String,
                 path: String): DataFrame = {
    val spark = newEmb.sparkSession
    val (lists, cents) = loadIndex(spark, path)
    val cb = broadcast(
      cents.select(col("list_id").cast("int").as("__lid"), col("cvec")))
    def perList(df: DataFrame, nName: String, simName: String) = df
      .join(cb, col("list_id").cast("int") === col("__lid"))
      .select(col("__lid").as("list_id"),
              cosineSim(col(vecCol), col("cvec")).as("__s"))
      .filter(col("__s").isNotNull)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as(nName), round(avg(col("__s")), 6).as(simName))
    val standing = perList(lists, "n_index", "sim_index")
    val batch = perList(ivfAssignTo(newEmb, idCol, vecCol, cents),
                        "n_batch", "sim_batch")
    standing.join(batch, Seq("list_id"), "full_outer")
      .select(col("list_id"),
              coalesce(col("n_index"), lit(0L)).as("n_index"),
              col("sim_index"),
              coalesce(col("n_batch"), lit(0L)).as("n_batch"),
              col("sim_batch"),
              round(col("sim_index") - col("sim_batch"), 6).as("drift"))
  }

  /** Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse a lexical BM25 ranking over the
    * document table with a semantic cosine ranking over the aligned
    * embedding table — the standard two-channel retrieval a curation
    * pipeline uses to mine domain data (BM25 catches exact terminology,
    * embeddings catch paraphrase; RRF needs no score calibration
    * between the two, only ranks). `rrf(d) = Σ_lists 1/(c + rank_d)`
    * over the lists that retrieved d in their top `n`; c = 60 per the
    * paper. Reference scope: retrieval-scored corpus mining, the
    * q_bm25 / q_cosine_topk channels composed
    * (/root/reference semantics: scoring+filter stages).
    *
    * Determinism: both legs rank on 1e-6-rounded scores with id
    * tie-breaks (the bm25TopK / topKNeighbors contracts), so the rank
    * columns — and therefore the fused scores — are engine-portable;
    * the final order is (rounded rrf desc, id asc), a total order.
    *
    * Scale shape: each leg is already top-n bounded at the source
    * (BM25's TakeOrderedAndProject, the probe scan's top-k) — the
    * fusion itself joins two ≤ n-row frames, so the unpartitioned
    * rank windows and the full-outer join run on n rows, not the
    * corpus; all heavy lifting stays in the legs, which never shuffle
    * document or vector payloads.
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                 probeId: Long, idCol: String = "doc_id",
                 textCol: String = "text", vecIdCol: String = "vec_id",
                 vecCol: String = "embedding", n: Int = 20, c: Int = 60,
                 k: Int = 10): DataFrame = {
    require(n >= k, s"per-leg depth n=$n must be >= fused k=$k")
    val lex = graft.text.TextOps
      .bm25TopK(docs, queryTerms, idCol, textCol, k = n)
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("bm25").desc, col(idCol).asc))
        .cast("long"))
      .select(col(idCol).cast("long").as("id"), col("lex_rank"))
    val sem = topKNeighbors(emb, vecIdCol, vecCol, probeId, k = n)
      .withColumn("sem_rank", row_number()
        .over(Window.orderBy(col("sim").desc, col(vecIdCol).asc))
        .cast("long"))
      .select(col(vecIdCol).cast("long").as("id"), col("sem_rank"))
    lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("sem_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), col("lex_rank"), col("sem_rank"),
              col("rrf"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98): greedily pick k of the top-`n` relevance candidates,
    * each round maximizing `λ·rel − (1−λ)·max_{s∈selected} sim(d, s)` —
    * the diversity-aware serving of a retrieval stack (a near-dup-heavy
    * corpus returns k copies of one document under pure relevance; MMR
    * returns one copy plus what ELSE is relevant). max over the empty
    * selected set is 0 by the usual convention, so round 0 is the pure
    * relevance argmax for any λ > 0 (λ = 0 is pure diversity and
    * degenerates to the id tie-break on round 0 — documented, not
    * guarded).
    *
    * Determinism: relevance is the 1e-6-rounded topKNeighbors score;
    * each per-selected similarity and the final mmr score are rounded
    * to 1e-6 with the id tie-break — a total order per round.
    *
    * Scale shape (the kCenterSelect pattern): the candidate pool is
    * top-n-bounded at the source but stays a DataFrame — each of the k
    * rounds updates a running max-sim column against ONE new broadcast
    * centre literal and picks the next argmax as orderBy+limit(1)
    * (TakeOrderedAndProject), so the same code serves n = 20 or a
    * 10-million-row candidate pool without a driver-side matrix; driver
    * state is k vectors.
    */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                probeId: Long, lambda: Double = 0.5, n: Int = 20,
                k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(n >= k, s"candidate depth n=$n must be >= k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = emb.sparkSession
    val base = topKNeighbors(emb, idCol, vecCol, probeId, n)
      .join(emb.select(col(idCol),
                       transform(col(vecCol), _.cast("double")).as("v")),
            idCol)
      .select(col(idCol).cast("long").as("id"), col("sim").as("rel"),
              col("v"))
    // SIZE-GATED DRIVER GREEDY (the ConnectedComponents.localSolve
    // precedent): MMR re-ranks a top-n candidate list and n is a user
    // constant (tens), never corpus-sized — the distributed part of the
    // operator is the top-n candidate generation above (one bounded
    // scan). Running the k sequential picks as Spark jobs costs ~10
    // jobs of pure scheduling latency per pick for microseconds of
    // arithmetic (measured: 96 jobs / 4.1 s wall / 0.17 s task time at
    // n=20); the greedy below is the same arithmetic on the collected
    // n rows — Spark's round (BigDecimal HALF_UP) and the
    // CosineSimilarity loop order reproduced so results stay
    // bit-identical to the distributed form.
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Option[Double] = {
      if (a.length != b.length || a.length == 0) return None
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) None
      else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    // (id, rel, vector, maxs) — maxs = max sim to any already-picked
    val pool = scala.collection.mutable.ArrayBuffer(
      base.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray, 0.0)): _*)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double, Double)]
    var rank = 0
    while (rank < k && pool.nonEmpty) {
      // argmax by (mmr desc, id asc) — the distributed orderBy's order
      val best = pool.map { case (id, rel, v, maxs) =>
        (r6(lambda * rel - (1.0 - lambda) * maxs), id, rel, v)
      }.minBy { case (mmr, id, _, _) => (-mmr, id) }
      out += ((rank, best._2, best._3, best._1))
      val center = best._4
      var i = 0
      while (i < pool.length) {
        if (pool(i)._1 == best._2) { pool.remove(i): Unit }
        else {
          val t = pool(i)
          // greatest(maxs, round(cos, 6)) with null-skipping greatest
          val m = cos(t._3, center).map(c => math.max(t._4, r6(c)))
            .getOrElse(t._4)
          pool(i) = (t._1, t._2, t._3, m)
          i += 1
        }
      }
      rank += 1
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "id", "rel", "mmr")
      .select(col("rank"), col("id").as(idCol), col("rel"), col("mmr"))
  }
}
