package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over entity co-occurrence graphs — the corpus-quality
  * signals a web-scale training pipeline computes over its link /
  * co-citation graph (PageRank as a document quality prior, as in
  * Common-Crawl curation; triangle / clustering-coefficient census as a
  * community-structure and spam signal).
  *
  * The demo graph is the TPC-H co-purchase graph: parts are vertices, an
  * edge connects two parts that share an order (reference domain has no
  * link table; co-occurrence-in-a-basket is the standard stand-in and the
  * pair generation is bounded by basket size, never corpus size).
  *
  * Scale contracts (the 100 TB design points):
  *  - Edge construction self-joins on the basket key, so candidate pairs
  *    are Σ basket² — bounded by the largest basket (≤ 7 lines in TPC-H),
  *    the same blocked-quadratic argument as the LSH-bucket joins.
  *  - PageRank never broadcasts a node-sized frame: ranks and degrees are
  *    |V|-row frames that JOIN (shuffle on the node key, co-partitioned
  *    across iterations so the exchange is reused); at demo scale AQE
  *    converts these to broadcasts on its own, at web scale |V| is
  *    billions and the shuffle shape is the only one that survives.
  *  - Triangle counting uses degree orientation (Suri & Vassilvitskii,
  *    WWW'11): each undirected edge points from its (degree, id)-smaller
  *    endpoint to the larger, so every wedge is generated exactly once at
  *    its lowest-degree apex and candidate wedges are Σ out-deg² ≤
  *    O(m^{3/2}) instead of Σ deg² (which a hub node makes quadratic —
  *    "the curse of the last reducer").
  *  - Fixed iteration counts + per-iteration rounding onto a shared
  *    decimal grid make the whole pipeline a deterministic dataflow, so
  *    the DuckDB oracle is the same dataflow as an unrolled CTE chain
  *    (the kcenterOracleGen / AnnOracles recipe).
  */
object GraphOps {

  /** Undirected co-purchase edge list from `lineitem`: one (src < dst)
    * row per part pair sharing an order. `modulus` is the fixture dial:
    * keep only baskets with l_orderkey % modulus == 0 (1 = full graph) —
    * a deterministic, SQL-expressible subset so demo fixtures right-size
    * without changing the operator.
    *
    * Pair generation joins the basket with itself on the order key:
    * shuffle is one exchange on l_orderkey and output is Σ C(basket,2),
    * bounded by basket size. Multi-edges collapse via distinct (one
    * exchange on the pair).
    */
  def coPurchaseEdges(lineitem: DataFrame, modulus: Int = 1): DataFrame = {
    val li = lineitem
      .filter(col("l_orderkey") % modulus === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a").join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  /** PageRank over an undirected edge list (src, dst unique pairs), run
    * for a FIXED `iters` power iterations at damping `d`, every
    * iteration's ranks rounded to `scale` decimals in BOTH engines so
    * aggregation-order ulps never compound across iterations (oracle
    * determinism; see object scaladoc). Returns (node, pr).
    *
    * The symmetrized graph has minimum degree 1, so there is no dangling
    * mass and the update is exactly
    *   pr'(v) = (1−d)/n + d · Σ_{u→v} pr(u)/deg(u),
    * with the teleport term reaching in-degree-0 nodes via the left join
    * from the degree spine (unreachable here, kept for generality).
    *
    * Plan shape per iteration: ranks ⋈ deg on the node key (contribution
    * m = pr/deg), ⋈ edges on src, aggregate by dst, left-join back onto
    * the spine — the canonical distributed-PageRank shape where the EDGE
    * frame is partitioned once and only the |V|-row mass frame moves per
    * iteration. That "once" must be explicit: the edges are cached
    * ALREADY HASH-PARTITIONED on src (repartition before persist), so
    * the per-iteration join's required distribution is satisfied from
    * cache and the only exchange is the tiny mass side. Without it, AQE
    * materializes both join stages concurrently and the |E|-row shuffle
    * is re-paid every iteration — measured 3 × ~20 s task time at sf0.1
    * before the pre-partition, zero after. The mass side then carries a
    * shuffle-hash hint: an SMJ would re-SORT the cached edges per
    * iteration, and a per-partition hash map over the small side is the
    * shape that survives when |V| rows per partition stay bounded.
    *
    * `edgeParts` is that scale dial: at web scale pass the cluster's
    * edge-partition width to pin the canonical shape above. The default
    * 0 leaves the plan fully adaptive — AQE coalesces the demo graph's
    * partitions and broadcasts the mass side, collapsing an iteration to
    * a cache-local broadcast join (pinning 32-partition shuffles onto a
    * KB-per-partition graph is pure per-task overhead — measured as MOST
    * of the query's wall at sf0.01). GraphPlanSpec pins both regimes.
    */
  /** The shared iteration scaffold of [[pageRank]] and
    * [[personalizedPageRank]]: the symmetrized (pinned, optionally
    * pre-partitioned) edge frame plus its mass-join shape — ONE
    * definition so the two operators' measured plan contracts cannot
    * diverge. Symmetrize in ONE pass (explode, not union: a union
    * would splice the caller's whole edge-construction lineage into
    * BOTH branches — measured as a second full self-join+distinct
    * execution at sf0.1).
    */
  private def symmetrized(edges: DataFrame, edgeParts: Int)
      : (DataFrame, DataFrame => DataFrame) = {
    val sym0 = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val sym = graft.CacheScope.pin(
      if (edgeParts > 0) sym0.repartition(edgeParts, col("src")) else sym0)
    val joinMass = (mass: DataFrame) =>
      if (edgeParts > 0) sym.join(mass.hint("shuffle_hash"), "src")
      else sym.join(mass, "src")
    (sym, joinMass)
  }

  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               scale: Int = 9, edgeParts: Int = 0): DataFrame = {
    val (sym, joinMass) = symmetrized(edges, edgeParts)
    val spine = graft.CacheScope.pin(sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")))
    // |V| as an in-plan 1-row broadcast (no driver action: a count()
    // here costs a full extra AQE materialization barrier — measured as
    // a fixed ~1 s on an otherwise sub-second DAG)
    val nn = broadcast(spine.agg(count(lit(1)).cast("double").as("n")))
    // the rank frame CARRIES deg, so the per-iteration contribution is a
    // projection, not a join — one exchange-barrier fewer per iteration
    var ranks = spine.crossJoin(nn).select(col("node"), col("deg"),
      round(lit(1.0) / col("n"), scale).as("pr"))
    for (_ <- 1 to iters) {
      val mass = ranks.select(col("node").as("src"),
        (col("pr") / col("deg")).as("m"))
      val inSum = joinMass(mass)
        .groupBy(col("dst").as("node")).agg(sum("m").as("s"))
      ranks = spine.join(inSum, Seq("node"), "left").crossJoin(nn)
        .select(col("node"), col("deg"),
          round(lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("s"), lit(0.0)), scale).as("pr"))
    }
    ranks.select(col("node"), col("pr"))
  }

  /** Personalized (topic-sensitive) PageRank — Haveliwala, WWW'02: the
    * teleport mass distributes over a SEED set instead of uniformly, so
    * ranks measure relevance TO THE SEEDS through link structure (the
    * "more documents like these" signal over a link/co-citation graph:
    * seed a few curated domains, harvest the neighborhood). `seeds` is a
    * one-column (node) frame; the teleport weight (1−d)/|S| is computed
    * IN-PLAN (1-row count aggregate, broadcast cross join — the 1-row
    * broadcast-totals pattern) so the operator stays a pure
    * DataFrame => DataFrame with no driver scalars.
    *
    * Same iteration scaffold and determinism contract as [[pageRank]]
    * (edges cached pre-partitioned on src, only node-sized frames move,
    * per-iteration rounding onto the shared grid). Non-seed nodes start
    * at 0 and BOTH engines drop zero-mass rows before the in-neighbor
    * sum (identical WHERE) — the early iterations then cost |frontier|,
    * not |V|, the locality that makes PPR the cheap variant at scale.
    * Returns (node, ppr); unreachable-from-seeds nodes rank 0. At
    * least one seed must be a node of the graph — a disjoint seed set
    * raises in-plan (raise_error) instead of silently returning
    * all-null ranks.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, damping: Double = 0.85,
                           scale: Int = 9, edgeParts: Int = 0): DataFrame = {
    val (sym, joinMass) = symmetrized(edges, edgeParts)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val spine = graft.CacheScope.pin(deg
      .join(seeds.select(col("node")).distinct()
              .withColumn("is_seed", lit(1)),
            deg("src") === col("node"), "left")
      .select(col("src").as("node"), col("deg"),
              coalesce(col("is_seed"), lit(0)).as("is_seed")))
    // PRECONDITION, enforced in-plan: at least one seed must be a graph
    // node. c = 0 would otherwise divide every teleport term to
    // null/NaN and return an all-null ranking silently — raise_error
    // keeps the no-driver-scalars contract while failing loudly.
    val cnt = broadcast(
      spine.filter(col("is_seed") === 1)
        .agg(count(lit(1)).cast("double").as("c"))
        .select(when(col("c") === 0.0, raise_error(lit(
          "personalizedPageRank: no seed intersects the graph's nodes")))
          .otherwise(col("c")).as("c")))
    val tele = when(col("is_seed") === 1,
      lit(1.0 - damping) / col("c")).otherwise(lit(0.0))
    // rank frame carries deg + is_seed: per-iteration contribution is a
    // filter+projection, never a join (the pageRank barrier argument)
    var ranks = spine.crossJoin(cnt).select(col("node"), col("deg"),
      col("is_seed"),
      when(col("is_seed") === 1, round(lit(1.0) / col("c"), scale))
        .otherwise(lit(0.0)).as("ppr"))
    for (_ <- 1 to iters) {
      val mass = ranks.filter(col("ppr") =!= 0.0)
        .select(col("node").as("src"), (col("ppr") / col("deg")).as("m"))
      val inSum = joinMass(mass)
        .groupBy(col("dst").as("node")).agg(sum("m").as("s"))
      ranks = spine.join(inSum, Seq("node"), "left").crossJoin(cnt)
        .select(col("node"), col("deg"), col("is_seed"),
          round(tele + lit(damping) * coalesce(col("s"), lit(0.0)),
                scale).as("ppr"))
    }
    ranks.select(col("node"), col("ppr"))
  }

  /** Per-node triangle and clustering-coefficient census over an
    * undirected (src < dst unique) edge list. Returns
    * (node, deg, tri, lcc) where lcc = tri / C(deg, 2) rounded to 6
    * (null when deg < 2 — no wedge to close).
    *
    * Degree orientation (object scaladoc): every edge is directed from
    * its (deg, id)-smaller endpoint; wedges are pairs of out-neighbors
    * (b, c) of a common apex a with (deg_b, b) < (deg_c, c), so the
    * closing edge — if it exists — is oriented exactly b→c and one
    * semi-ish join on (b, c) confirms each triangle exactly once. Each
    * triangle (a,b,c) then credits all three vertices (one explode pass
    * over the cached triangle frame).
    *
    * deg is a |V|-row frame joined (not broadcast) per the no-node-sized-
    * broadcast contract; AQE broadcasts it at demo scale on its own.
    */
  def triangleStats(edges: DataFrame, edgeParts: Int = 0): DataFrame = {
    val e = graft.CacheScope.pin(edges.select(col("src"), col("dst")))
    val deg = graft.CacheScope.pin(
      e.select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient: (a, b, degb) with (deg, id)(a) < (deg, id)(b)
    val withDeg = e
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    // with edgeParts > 0: cached pre-partitioned on the wedge apex, so
    // the o1 ⋈ o2 self-join's required distribution is satisfied from
    // cache on BOTH sides (projections preserve partitioning) — zero
    // exchanges for the wedge-generation join (the pageRank edgeParts
    // dial; default 0 stays adaptive for right-sized demo graphs)
    val oriented0 = withDeg.select(
      when(col("ds") < col("dd") ||
           (col("ds") === col("dd") && col("src") < col("dst")),
        struct(col("src").as("a"), col("dst").as("b"), col("dd").as("db")))
        .otherwise(
          struct(col("dst").as("a"), col("src").as("b"), col("ds").as("db")))
        .as("o"))
      .select(col("o.a").as("a"), col("o.b").as("b"), col("o.db").as("db"))
    val oriented = graft.CacheScope.pin(
      if (edgeParts > 0) oriented0.repartition(edgeParts, col("a"))
      else oriented0)
    val o1 = oriented.select(col("a"), col("b"), col("db"))
    val o2 = oriented.select(col("a"), col("b").as("c"), col("db").as("dc"))
    val wedges = o1.join(o2, Seq("a"))
      .filter(col("db") < col("dc") ||
              (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val closing = oriented.select(col("a").as("b"), col("b").as("c"))
    // the |wedges|-row frame shuffles on (b, c) — irreducible; in the
    // pinned regime the |E|-row closing side rides a shuffle-hash
    // build (never a sort); adaptively AQE picks broadcast when small
    val tris = graft.CacheScope.pin(wedges.join(
      if (edgeParts > 0) closing.hint("shuffle_hash") else closing,
      Seq("b", "c")))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          round(coalesce(col("tri"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1) / 2).cast("double"), 6))
          .as("lcc"))
  }
}
