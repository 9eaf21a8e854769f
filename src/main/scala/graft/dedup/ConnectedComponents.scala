package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list, via the
  * alternating large-star / small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
  *
  * This is the missing last step of near-dup dedup at corpus scale: the
  * pair joins (DedupOps.ngramJaccardPairs / minhashLshPairs) emit EDGES,
  * but a curation pipeline must collapse transitive duplicate chains
  * (A~B, B~C but not A~C directly) into CLUSTERS and elect one canonical
  * document per cluster. Pairwise-only dedup either over-deletes (drop
  * both ends) or under-deletes (keep one end per pair, chains survive).
  *
  * Why this algorithm and not label propagation: plain min-label
  * propagation converges in O(diameter) rounds — fine for near-clique
  * duplicate clusters, quadratic-round on long chains (a 100 TB crawl
  * has mirror chains hundreds deep). Large-star/small-star contracts
  * star subtrees each round and provably converges in O(log² n) rounds
  * (in practice ≤ ~5 on real dup graphs) to the canonical star forest:
  * every node points at its component's MINIMUM id. Each round is two
  * groupBy-join passes that shuffle only (node, node) id pairs — never
  * payloads — with map-side combine on the min aggregate, so a hot node
  * (a boilerplate doc duplicated millions of times) aggregates partially
  * per map task instead of buffering a giant neighbor list.
  *
  * Round r: E ← smallStar(largeStar(E)); stop when the edge multiset is
  * unchanged (checked by count + an order-independent hash-sum — one
  * cheap action per round on a frame already materialized for lineage
  * truncation).
  *
  * CACHE OWNERSHIP: the returned frame reads from an internally
  * persisted edge frame (evictable MEMORY_AND_DISK; all intermediate
  * rounds are unpersisted eagerly). The CALLER releases it —
  * `Session.dropCaches` (as Bench/Verify do per action) or
  * unpersist of the returned frame's cache via the session — same
  * contract as DedupOps.hashedSets.
  */
object ConnectedComponents {

  /** Connected components of the undirected graph given by `edges`
    * (two id columns; self-loops ignored). Returns (id, comp): one row
    * per node appearing in at least one edge, comp = min id in the
    * node's component.
    *
    * `assumeDistinct`: the caller vouches the edge list has no exact
    * duplicate pairs (true for every DedupOps pair generator — their
    * outputs end in distinct + verify), skipping the up-front distinct
    * shuffle. A false claim costs one extra round (the first star round
    * re-distincts), never a wrong answer.
    *
    * Convergence is detected STRUCTURALLY, not by comparing consecutive
    * edge multisets: the alternating-star fixpoint is exactly a
    * min-rooted star forest, and "is a star forest" is a cheap exact
    * test (no node appears as both child and root; no child has two
    * roots — see starStats). Two wins over a hash signature: a graph
    * that is ALREADY a star forest (the common near-dup case — most
    * duplicate clusters are simple pairs) converges with ZERO star
    * rounds and one action, no confirm round; and convergence can never
    * be declared early by a hash collision — the test is exact, so
    * reading components off the converged frame is sound by
    * construction.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          assumeDistinct: Boolean = false,
                          localSolveMaxEdges: Long = 1L << 19): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1 (got $maxIter)")
    // Canonical start: (u > v) directed edges, self-loops dropped. The
    // distinct collapses parallel edges so round cost is bounded by the
    // simple-graph size from the start (skipped when the caller already
    // guarantees it — one shuffle saved).
    val canon = edges
      .select(greatest(col(aCol), col(bCol)).as("u"),
              least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
    var e = truncated(if (assumeDistinct) canon else canon.distinct())
      .transform(graft.CacheScope.pin)

    // Round-0 check: the stats action is also what materializes the
    // (lazy) canonical-edge cache.
    var st = starStats(e)
    var converged = st.star

    // ADAPTIVE SMALL-GRAPH SOLVE: the stats action just measured the
    // DEDUPLICATED edge count. A non-star graph at or below the gate is
    // solved with one bounded driver union-find instead of scheduling
    // star rounds — the same size-triggered plan choice Spark itself
    // makes (broadcast vs shuffle join). This is NOT a scale
    // compromise: a duplicate-pair graph is O(#duplicate docs), so even
    // a 100 TB corpus usually fits the gate, and one that doesn't takes
    // the distributed rounds below. Gate accounting is honest about JVM
    // boxing, not raw bytes: 2¹⁹ edges stream through toLocalIterator
    // (never a collected array), and the driver holds ≤ 2²⁰ boxed
    // (Long, Long) HashMap entries ≈ 100 MB worst case — bounded well
    // under default driver heaps; the result goes back out as a
    // parallelized dataset, never a LocalRelation embedded in (and
    // re-serialized with) every downstream plan.
    // Every path returns the identical (id, comp) set — property-tested
    // against each other across random graphs.
    // (long ids only: the local path materializes longs; other id types
    // keep the distributed rounds so the output schema never depends on
    // which path ran)
    val longIds = e.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (!converged && longIds && st.edges <= localSolveMaxEdges)
      return localSolve(e)
    var it = 0
    while (!converged && it < maxIter) {
      // --- large-star: for each node u, connect every STRICTLY LARGER
      // neighbor v to m(u) = min(N(u) ∪ {u}). Emitted edges (v, m) have
      // v > u ≥ m, so they stay canonical and never self-loop.
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = sym.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

      // --- small-star: point each edge large→small, then connect every
      // smaller-or-equal neighbor (and u itself) to m(u) = min neighbor.
      val mSmall = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val next = truncated(afterLarge.join(mSmall, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mSmall.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct())
        .transform(graft.CacheScope.pin)

      st = starStats(next)
      e.unpersist()
      e = next
      converged = st.star
      it += 1
    }
    // A non-converged edge set is NOT a star forest — reading components
    // off it would silently merge or split clusters. Real graphs converge
    // in single-digit rounds (the O(log² n) bound is loose in practice);
    // hitting the cap means something is wrong — fail loudly.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"(last round: ${st.edges} edges, ${st.violations} non-star " +
          "nodes)")

    // Converged star forest: every edge is (child, root). Components =
    // children plus the roots themselves (roots never appear on the u
    // side of a star edge).
    e.select(col("u").as("id"), col("v").as("comp"))
      .union(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Per-cluster summary over near-dup pairs: cluster_id = canonical
    * (minimum) member, member list sorted. The downstream curation step
    * is then a semi/anti join: keep id == cluster_id, drop the rest.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String = "id_a",
                        bCol: String = "id_b",
                        assumeDistinct: Boolean = false): DataFrame =
    connectedComponents(pairs, aCol, bCol, assumeDistinct = assumeDistinct)
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
           sort_array(collect_list(col("id"))).as("members"))

  /** Lineage truncation for the iterative loop: each round's plan embeds
    * the previous round's plan ~12× (sym, afterLarge and their aggregates
    * are each referenced several times), so WITHOUT truncation the
    * logical plan — and the analyzer's walk over it — grows exponentially
    * with rounds (round 9 of the spec's path graph took minutes before
    * aborting). Re-rooting the frame as a LogicalRDD leaf over the
    * about-to-be-persisted rows keeps every round's plan constant-size.
    * NOT localCheckpoint: its blocks are non-evictable (a lost block
    * fails the job; only `CacheScope.unpersist` frees them) — `df.rdd`
    * over a persisted frame reads the evictable cache instead and
    * merely recomputes through normal lineage if evicted, which an
    * iterative loop under memory pressure needs.
    */
  private def truncated(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Driver-side union-find over a size-gated edge list (≤
    * localSolveMaxEdges rows of two longs — bounded memory by
    * construction; the caller just measured the count). Path-halving
    * find + union by arbitrary root, then one relabel pass to the
    * component MINIMUM so the output contract matches the star-forest
    * read exactly: (id, comp = min id in component), one row per node
    * appearing in an edge.
    *
    * Memory discipline (both directions of the driver boundary): edges
    * STREAM in through toLocalIterator — one in-flight row, never a
    * collected Array[Row] of boxed pairs — and the result leaves as a
    * PARALLELIZED dataset, not a local Seq: `Seq.toDF` would embed up
    * to 2·gate tuples as a LocalRelation inside every downstream plan,
    * re-serialized with each job that references the component frame.
    */
  private def localSolve(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path-halving
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    // coalesce(1) first: toLocalIterator schedules ONE JOB PER
    // PARTITION, so a gate-sized edge list arriving in 32+ partitions
    // (any distributed pair join) paid 32+ driver round-trips of pure
    // fixed cost (r11: measured +32 jobs on q_semdedup). One narrow
    // task drains every partition instead; the result block it streams
    // is bounded by the localSolve gate itself (≤ 2¹⁹ edges ≈ 8 MB of
    // longs), far under the ~100 MB HashMap bound documented above.
    val it = e.select(col("u"), col("v")).coalesce(1).toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val u = r.getLong(0); val v = r.getLong(1)
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(ru, rv)
    }
    // second pass: component minimum per root, then (id, min) rows
    val minOf = new java.util.HashMap[Long, Long]()
    val ids = parent.keySet().toArray(new Array[java.lang.Long](0))
      .map(_.longValue)
    ids.foreach { id =>
      val r = find(id)
      val m = minOf.getOrDefault(r, Long.MaxValue)
      if (id < m) minOf.put(r, id)
    }
    val rows = ids.toIndexedSeq.map(id =>
      (id, minOf.get(find(id)).longValue))
    import spark.implicits._
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.size / 4096))
    spark.createDataset(spark.sparkContext.parallelize(rows, parts))
      .toDF("id", "comp")
  }

  private case class StarStats(edges: Long, violations: Long) {
    def star: Boolean = violations == 0L
  }

  /** EXACT star-forest test + edge count in ONE action. A canonical
    * (u > v), duplicate-free edge set is a min-rooted star forest iff no
    * node appears as both a child (u side) and a root (v side) AND no
    * child appears twice (two roots). Both reduce to one groupBy over
    * the union of the two sides; sum(c) recovers the edge count in the
    * same pass. On a duplicate-carrying edge list (assumeDistinct
    * abuse) a repeated edge reads as a two-root child — a spurious
    * violation that only schedules another round, never a wrong answer.
    */
  private def starStats(e: DataFrame): StarStats = {
    val sides = e.select(col("u").as("id"), lit(1L).as("c"), lit(0L).as("r"))
      .union(e.select(col("v").as("id"), lit(0L).as("c"), lit(1L).as("r")))
    val row = sides.groupBy(col("id"))
      .agg(sum(col("c")).as("nc"), sum(col("r")).as("nr"))
      .agg(sum(col("nc")).as("edges"),
           count(when(col("nc") > 0 && (col("nr") > 0 || col("nc") > 1),
                      1)).as("viol"))
      .head()
    StarStats(if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }
}
