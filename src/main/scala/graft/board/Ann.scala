package graft
package board

import org.apache.spark.sql.functions._

import graft.board.Dedup.closureCtes
import graft.similarity.SimilarityOps

/** Board queries over the embeddings table: exact and approximate nearest
  * neighbours (LSH, IVF, PQ, IVF×PQ), their quality dials, index drift and
  * re-index, PCA, and the embedding-space selections (k-center, MMR).
  */
object Ann {

  lazy val cases: Seq[Case] = Seq(

    // Embedding-space data-quality gate: the k vectors FARTHEST from
    // their own label's centroid (lowest cosine) — mislabeled/noise
    // candidates for review. Centroids via the native vector_sum
    // aggregate; tiny centroid table broadcast; top-k never sorts
    // globally
    Case("q_embed_outliers", (s, dir) =>
      SimilarityOps.centroidOutliers(t(s, dir, "embeddings"),
                                     "vec_id", "embedding", "label",
                                     k = 10),
      Some("""WITH flat AS (SELECT vec_id, label,
        |                     CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding, 1) AS i
        |              FROM embeddings),
        |cent AS (SELECT label, i, avg(v) AS c FROM flat GROUP BY 1, 2),
        |sims AS (SELECT f.vec_id, f.label,
        |                round(sum(f.v * c.c) /
        |                      (sqrt(sum(f.v * f.v)) * sqrt(sum(c.c * c.c))),
        |                      6) AS sim
        |         FROM flat f JOIN cent c ON c.label = f.label AND c.i = f.i
        |         GROUP BY 1, 2)
        |SELECT vec_id, label, sim FROM sims
        |ORDER BY sim ASC, vec_id LIMIT 10""".stripMargin)),

    // Batched exact k-NN join: every query vector (ids < 5) → top-3
    // corpus neighbors; the serving/eval retrieval shape
    Case("q_knn_join", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.knnJoin(e.filter(col("vec_id") < 5),
                            e.filter(col("vec_id") >= 5),
                            "vec_id", "embedding", k = 3)
    },
      Some("""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                sum(q.v*c.v) AS dot
        |         FROM flat q JOIN flat c ON q.i = c.i
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5
        |         GROUP BY 1,2),
        |scored AS (SELECT query_id, neighbor_id,
        |                  round(dot/(nq.nrm*nc.nrm), 6) AS sim
        |           FROM dots JOIN norms nq ON nq.vec_id = query_id
        |                     JOIN norms nc ON nc.vec_id = neighbor_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 3""".stripMargin)),

    // Margin-based pair mining (CCMatrix/LASER ratio margin): pairs
    // (even-id x, odd-id y) where cos(x,y) beats the MEAN of both
    // endpoints' top-4 cross-side neighborhoods by ≥ 1.1× — the
    // density-normalized selection an absolute τ can't express
    Case("q_margin_mine", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.marginMine(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 4, tau = 1.1)
    },
      Some("""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |sims AS (SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
        |                round(sum(fa.v*fb.v) /
        |                      (any_value(na.nrm)*any_value(nb.nrm)), 6) AS sim
        |         FROM flat fa JOIN flat fb ON fa.i = fb.i
        |              AND fa.vec_id % 2 = 0 AND fb.vec_id % 2 = 1
        |         JOIN norms na ON na.vec_id = fa.vec_id
        |         JOIN norms nb ON nb.vec_id = fb.vec_id
        |         GROUP BY 1, 2),
        |fwd AS (SELECT *, row_number() OVER (PARTITION BY id_a
        |                    ORDER BY sim DESC, id_b ASC) AS rn FROM sims),
        |bwd AS (SELECT *, row_number() OVER (PARTITION BY id_b
        |                    ORDER BY sim DESC, id_a ASC) AS rn FROM sims),
        |den_a AS (SELECT id_a, avg(sim) AS da FROM fwd WHERE rn <= 4
        |          GROUP BY 1),
        |den_b AS (SELECT id_b, avg(sim) AS db FROM bwd WHERE rn <= 4
        |          GROUP BY 1)
        |SELECT id_a, id_b, sim, margin FROM (
        |  SELECT f.id_a, f.id_b, f.sim,
        |         round(f.sim/((da+db)/2), 6) AS margin
        |  FROM fwd f JOIN den_a USING (id_a) JOIN den_b USING (id_b)
        |  WHERE f.rn <= 4)
        |WHERE margin >= 1.1""".stripMargin)),

    // Int8 embedding quantization (4× ANN memory cut); explicit
    // round-half-up keeps the codes engine-portable. The code vector is
    // ','-joined for the compare (q_collect_arrays precedent: a raw
    // array column is unhashable in the driver's pandas sort).
    Case("q_quantize", (s, dir) =>
      Verify.stringifyArrays(
        SimilarityOps.quantizeInt8(t(s, dir, "embeddings"),
                                   "vec_id", "embedding"),
        "qvec"),
      Some("""SELECT vec_id,
        |  round(127.0 / list_max(list_transform(embedding,
        |          x -> abs(CAST(x AS DOUBLE)))), 6) AS scale,
        |  array_to_string(
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
        |      (127.0 / list_max(list_transform(embedding,
        |         y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INTEGER)),
        |    ',') AS qvec
        |FROM embeddings""".stripMargin)),

    // Quantized SERVING: top-10 cosine over the int8 codes (4×-compressed
    // corpus). Exactly oracle-checkable — cosine over codes is
    // scale-free and integer dots are order-independent-exact in double
    Case("q_int8_topk", (s, dir) =>
      SimilarityOps.int8TopK(t(s, dir, "embeddings"),
                             "vec_id", "embedding", probeId = 0L, k = 10),
      Some("""WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
        |      (127.0 / list_max(list_transform(embedding,
        |         y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |  WHERE list_max(list_transform(embedding,
        |          x -> abs(CAST(x AS DOUBLE)))) > 0),
        |flat AS (SELECT vec_id, unnest(qv) AS v,
        |                generate_subscripts(qv, 1) AS i
        |         FROM q),
        |probe AS (SELECT i, v FROM flat WHERE vec_id = 0),
        |pn AS (SELECT sum(v * v) AS pn2 FROM probe),
        |dots AS (SELECT f.vec_id, sum(f.v * p.v) AS dot,
        |                sum(f.v * f.v) AS nrm2
        |         FROM flat f JOIN probe p ON p.i = f.i
        |         WHERE f.vec_id <> 0 GROUP BY 1)
        |SELECT d.vec_id,
        |       round(CAST(dot AS DOUBLE) /
        |             (sqrt(CAST(nrm2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE))),
        |             6) AS sim
        |FROM dots d, pn
        |WHERE nrm2 > 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Brute-force cosine top-k (exact ANN baseline)
    Case("q_cosine_topk", (s, dir) =>
      SimilarityOps.topKNeighbors(t(s, dir, "embeddings"),
                                  "vec_id", "embedding",
                                  probeId = 0L, k = 10),
      Some(cosineTopkOracle)),

    // All-pairs cosine ≥ τ (embedding near-dup contract)
    Case("q_cosine_pairs", (s, dir) =>
      SimilarityOps.cosinePairs(t(s, dir, "embeddings"),
                                "vec_id", "embedding", tau = 0.45),
      Some(cosinePairsOracleGen(0.45))),

    // k-center greedy coreset (diversity-first selection): 8 spread
    // representatives of the embedding corpus with their coverage
    // radii. Iterative farthest-point, yet oracle-EXACT: the greedy
    // loop unrolls to a generated k-step CTE chain (kcenterOracleGen) that
    // reproduces the argmax sequence pick for pick
    Case("q_kcenter_select", (s, dir) =>
      SimilarityOps.kCenterSelect(t(s, dir, "embeddings"),
                                  "vec_id", "embedding", k = 8),
      // the iterative greedy selections, unrolled (generated CTE chains —
      // see kcenterOracleGen/mmrOracleGen scaladoc): two former rows-only
      // queries now hash-exact, argmax sequence and all
      Some(kcenterOracleGen(8))),

    // Semantic decontamination: label-0 vectors play the benchmark/test
    // set, the rest the corpus; the benchmark folds to one broadcast row
    // (zero corpus shuffle — see SimilarityOps.semanticDecontaminate)
    Case("q_semantic_decon", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.semanticDecontaminate(
        emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
        "vec_id", "embedding", tau = 0.4)
    },
      Some(semDeconOracleGen(0.4))),

    // Hard-negative mining (DPR/SimCSE): per anchor, top-3 most-similar
    // corpus vectors with a DIFFERENT label — label filter BEFORE the
    // ranking. Anchors = the 5 lowest vec_ids (batch ≪ corpus contract).
    Case("q_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.hardNegatives(emb.filter(col("vec_id") < 5), emb,
                                  "vec_id", "embedding", "label", k = 3)
    },
      Some("""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |anch AS (SELECT vec_id AS aid, label AS al FROM embeddings
        |         WHERE vec_id < 5),
        |aflat AS (SELECT a.aid, f.i, f.v
        |          FROM anch a JOIN flat f ON f.vec_id = a.aid),
        |dots AS (SELECT af.aid, f.vec_id AS nid, sum(af.v*f.v) AS dot
        |         FROM aflat af JOIN flat f ON f.i = af.i
        |         GROUP BY 1, 2),
        |sims AS (SELECT d.aid, d.nid,
        |                round(d.dot/(na.nrm*nb.nrm), 6) AS sim
        |         FROM dots d
        |         JOIN norms na ON na.vec_id = d.aid
        |         JOIN norms nb ON nb.vec_id = d.nid
        |         JOIN anch a ON a.aid = d.aid
        |         JOIN embeddings e ON e.vec_id = d.nid
        |         WHERE e.label <> a.al)
        |SELECT aid AS anchor_id, nid AS neg_id, sim FROM (
        |  SELECT aid, nid, sim, row_number() OVER (
        |    PARTITION BY aid ORDER BY sim DESC, nid ASC) AS rn
        |  FROM sims) WHERE rn <= 3""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): seed-codebook clusters bound the
    // pairwise cosine search; within each duplicate component the member
    // with the LOWEST centroid cosine survives (the paper's keep rule).
    // Oracle recomputes assignment + within-list pairs + recursive
    // closure + keep rule in DuckDB.
    Case("q_semdedup", (s, dir) =>
      SimilarityOps.semDeDup(t(s, dir, "embeddings"), "vec_id", "embedding",
                             tau = 0.45, nlist = 4),
      Some(("""WITH RECURSIVE flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |seeds AS (SELECT vec_id AS cid,
        |            CAST(row_number() OVER (ORDER BY vec_id) - 1
        |              AS INTEGER) AS list_id
        |          FROM (SELECT vec_id FROM embeddings
        |                ORDER BY vec_id LIMIT 4)),
        |cflat AS (SELECT s.list_id, f.i, f.v
        |          FROM seeds s JOIN flat f ON f.vec_id = s.cid),
        |cnorm AS (SELECT s.list_id, n.nrm
        |          FROM seeds s JOIN norms n ON n.vec_id = s.cid),
        |csim AS (SELECT f.vec_id, c.list_id,
        |           round(sum(f.v*c.v) / (max(n.nrm) * max(cn.nrm)), 6) AS s
        |         FROM flat f JOIN cflat c ON c.i = f.i
        |              JOIN norms n ON n.vec_id = f.vec_id
        |              JOIN cnorm cn ON cn.list_id = c.list_id
        |         GROUP BY 1,2),
        |assign AS (SELECT vec_id, list_id, s FROM (
        |             SELECT vec_id, list_id, s,
        |                    row_number() OVER (PARTITION BY vec_id
        |                      ORDER BY s DESC, list_id ASC) AS rn
        |             FROM csim) WHERE rn = 1),
        |dots AS (SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
        |                sum(fa.v*fb.v) AS dot
        |         FROM flat fa JOIN flat fb
        |           ON fa.i = fb.i AND fa.vec_id < fb.vec_id
        |         GROUP BY 1,2),
        |pairs AS (SELECT d.id_a, d.id_b
        |          FROM dots d
        |          JOIN norms na ON na.vec_id = d.id_a
        |          JOIN norms nb ON nb.vec_id = d.id_b
        |          JOIN assign aa ON aa.vec_id = d.id_a
        |          JOIN assign ab ON ab.vec_id = d.id_b
        |          WHERE aa.list_id = ab.list_id
        |            AND d.dot/(na.nrm*nb.nrm) >= 0.45),
        |""".stripMargin +
        closureCtes("pairs") + """,
        |comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
        |mem AS (SELECT c.id, c.comp, a.list_id, a.s
        |        FROM comp c JOIN assign a ON a.vec_id = c.id)
        |SELECT id AS vec_id, list_id, comp, s AS cent_sim,
        |       row_number() OVER (PARTITION BY comp
        |                          ORDER BY s ASC, id ASC) = 1 AS kept
        |FROM mem""".stripMargin))),

    // LSH-bucketed ANN (scale path; recall measured in spec, no oracle)
    Case("q_ann_topk", (s, dir) =>
      SimilarityOps.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
                            probeId = 0L, k = 10, bits = 4),
      None),

    // IVF assign + probe against the seed codebook (scale path, no oracle)
    Case("q_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding",
                                               cents)
      SimilarityOps.ivfTopK(assigned, cents, "vec_id", "embedding",
                            probeId = 0L, k = 10, nprobe = 3)
    },
      // the ANN index family, same recipe at full depth (AnnOracles):
      // seed→assign→Lloyd→encode→serve unrolled as generated CTE chains —
      // five former "k-means internals aren't SQL-expressible" rows now
      // hash-exact, Lloyd means, residual ADC tables and all
      Some(AnnOracles.ivfTopk)),

    // ANN quality dial: recall@10 vs the exact twin across the nprobe
    // grid, one candidate pass for the whole grid. Rows-only (IVF
    // internals); the nprobe=nlist ⇒ recall=1.0 endpoint and
    // monotonicity are spec-pinned (AnnOpsSpec).
    Case("q_ann_eval", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding",
                                               cents)
      SimilarityOps.annEval(assigned, cents, "vec_id", "embedding",
                            probeIds = Seq(0L, 7L, 23L, 54L, 91L), k = 10,
                            nprobes = Seq(1, 2, 4, 8))
        // the shared eval contract — UNIONs with q_lsh_eval/q_pq_eval
        .select(lit("ivf-cosine").as("family"),
                concat(lit("nprobe="), col("nprobe")).as("config"),
                col("n_candidates"), col("n_verified"),
                col("recall"), col("precision"))
    },
      Some(AnnOracles.annEval)),

    // The bits half of the ANN quality grid (annEval sweeps nprobe):
    // recall@10 per PQ codebook config vs the exact L2 twin. Rows-only
    // (k-means internals); saturation ⇒ 1.0 and the hand-built-sweep
    // equality are spec-pinned (AnnOpsSpec).
    Case("q_pq_eval", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // grid-train in ONE bookkeeping pass (r12 task 5): the dims probe
      // and the gated driver collect are config-independent, so the
      // two-config grid schedules 2 train jobs instead of 4 — codebooks
      // byte-identical to per-config pqTrain (PqSpec pins it)
      val Seq(fine, coarse) = SimilarityOps.pqTrainGrid(
        emb, "vec_id", "embedding", nsub = 8, codesGrid = Seq(16, 2),
        iters = 1)
      SimilarityOps.pqEval(emb, "vec_id", "embedding",
                           Seq("8x16" -> fine, "8x2" -> coarse),
                           probeIds = Seq(0L, 23L, 91L), k = 10)
        // the shared eval contract — UNIONs with q_lsh_eval/q_ann_eval
        .select(lit("pq-l2").as("family"),
                concat(lit("codebook="), col("config")).as("config"),
                col("n_candidates"), col("n_verified"),
                col("recall"), col("precision"))
    },
      Some(AnnOracles.pqEval)),

    // Day-2 index ops: per-list drift report of an incoming batch vs
    // the frozen saved codebook — the appendIndex "retrain now" signal.
    // Rows-only (persisted-index internals); planted-drift behavior is
    // spec-pinned (AnnOpsSpec).
    Case("q_index_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val old = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val path = scratch(dir, "drift_index")
      val cents = SimilarityOps.ivfTrain(old, "vec_id", "embedding",
                                         nlist = 8, iters = 1)
      SimilarityOps.saveIndex(
        SimilarityOps.ivfAssignTo(old, "vec_id", "embedding", cents),
        cents, path)
      SimilarityOps.indexDrift(batch, "vec_id", "embedding", path)
        .orderBy(col("list_id"))
    },
      Some(AnnOracles.indexDrift)),

    // The drift signal's ACTION: seed-codebook index on the even half,
    // appendIndex the odd half against the frozen codebook, then
    // reindex (retrain on the index's own contents + atomic root swap)
    // and serve with nprobe = nlist. ORACLE-EXACT against the
    // brute-force cosine top-k over the whole table: exactness proves
    // the append inserted each id exactly once, the rebuild preserved
    // the corpus bit-for-bit through the swap, and nprobe=all ≡ exact —
    // the k-means internals never touch the served VALUES, only the
    // pruning layout.
    Case("q_reindex", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val path = scratch(dir, "reindex")
      val cents = SimilarityOps.seedCentroids(base, "vec_id", "embedding",
                                              nlist = 8)
      SimilarityOps.saveIndex(
        SimilarityOps.ivfAssignTo(base, "vec_id", "embedding", cents),
        cents, path)
      SimilarityOps.appendIndex(batch, "vec_id", "embedding", path)
      SimilarityOps.reindex(s, path, "vec_id", "embedding",
                            nlist = 8, iters = 2)
      val (lists, cb) = SimilarityOps.loadIndex(s, path)
      SimilarityOps.ivfTopK(lists, cb, "vec_id", "embedding",
                            probeId = 0L, k = 10, nprobe = 8)
    },
      // q_reindex serves nprobe = nlist off the appended-then-rebuilt
      // index, so its contract IS the brute-force top-10 over the whole
      // table — the same oracle, checking the whole append/retrain/swap
      // chain preserved the corpus exactly
      Some(cosineTopkOracle)),

    // PCA projection, HASH-EXACT via sign-invariant outputs on the
    // planted-spectrum fixture (the q_pca_scree recipe, r9 promotion):
    // single-nonzero-coordinate vectors make the covariance EXACTLY
    // diagonal (off-diagonal sums are sums of 0.0; coordinate means
    // cancel to exactly 0.0 — integer ± pairs are exact in FP at any
    // summation order, so the usual "covariance moves by ulps across
    // partitionings" hazard is structurally absent), the eigenvalues
    // are the per-coordinate variances, and the top-6 eigenBASIS is the
    // 6 largest-variance coordinate axes. The emitted quantities never
    // see LAPACK's basis-sign: per-component SQUARED projections p0..p5
    // and the reconstruction error ‖x−μ‖² − ‖proj‖² (orthonormal-basis
    // identity — nonzero exactly for docs whose planted coordinate
    // ranks below the kept 6). The operator still runs its full
    // covariance-aggregate + driver-eigen + broadcast-projection path;
    // the real-corpus demo rides PcaSpec (orthonormality, planted-axis
    // recovery, whitening) where basis signs are free to be LAPACK's.
    Case("q_pca_embed", (s, dir) => {
      val d = 8
      val k = 6
      val coord = pmod(shiftright(col("doc_id"), 1), lit(d))
      val sign = when(pmod(col("doc_id"), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
      val planted = t(s, dir, "documents").select(
        col("doc_id"),
        transform(sequence(lit(0), lit(d - 1)), j =>
          when(j.cast("long") === coord,
               sign * (coord + 1).cast("double"))
            .otherwise(lit(0.0))).as("embedding"))
      val model = graft.similarity.EmbeddingPca.fit(planted, "embedding", k)
      val proj = graft.similarity.EmbeddingPca.project(
        planted, "doc_id", "embedding", model)
      val mu = typedLit(model.mean.toSeq)
      val xNorm2 = aggregate(
        zip_with(col("embedding"), mu, (x, m) => (x - m) * (x - m)),
        lit(0.0), (acc, v) => acc + v)
      val pNorm2 = aggregate(
        transform(col("proj"), p => p * p), lit(0.0), (acc, v) => acc + v)
      val pCols = (0 until k).map { i =>
        val p = element_at(col("proj"), i + 1)
        round(p * p, 6).as(s"p$i")
      }
      planted.join(proj, "doc_id")
        .select(Seq(col("doc_id")) ++ pCols :+
          round(xNorm2 - pNorm2, 6).as("rec_err2"): _*)
    },
      // planted spectrum: exactly-diagonal covariance (means cancel to
      // an exact 0.0), so eigenvalues = per-coordinate variances and the
      // whole scree is plain SQL — mirrors the query's construction
      // same planted-diagonal construction as q_pca_scree; the basis of
      // the top-6 components is the 6 largest-variance coordinate axes,
      // so squared projections and the reconstruction error are plain
      // CASE expressions on the doc's own planted coordinate — no LAPACK
      Some("""WITH v AS (SELECT doc_id,
        |    CAST((doc_id // 2) % 8 AS INTEGER) AS coord,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |      * CAST((doc_id // 2) % 8 + 1 AS DOUBLE) AS x
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        |pc AS (SELECT coord, sum(x*x) AS sq, sum(x) AS sm
        |       FROM v GROUP BY 1),
        |ev AS (SELECT coord, sq/nn.n - (sm/nn.n)*(sm/nn.n) AS ev
        |       FROM pc, nn),
        |rk AS (SELECT coord, row_number() OVER (ORDER BY ev DESC, coord)
        |         - 1 AS comp FROM ev)
        |SELECT v.doc_id,
        |       round(CASE WHEN r.comp = 0 THEN v.x*v.x ELSE 0.0 END, 6) AS p0,
        |       round(CASE WHEN r.comp = 1 THEN v.x*v.x ELSE 0.0 END, 6) AS p1,
        |       round(CASE WHEN r.comp = 2 THEN v.x*v.x ELSE 0.0 END, 6) AS p2,
        |       round(CASE WHEN r.comp = 3 THEN v.x*v.x ELSE 0.0 END, 6) AS p3,
        |       round(CASE WHEN r.comp = 4 THEN v.x*v.x ELSE 0.0 END, 6) AS p4,
        |       round(CASE WHEN r.comp = 5 THEN v.x*v.x ELSE 0.0 END, 6) AS p5,
        |       round(CASE WHEN r.comp >= 6 THEN v.x*v.x ELSE 0.0 END, 6)
        |         AS rec_err2
        |FROM v JOIN rk r ON r.coord = v.coord""".stripMargin)),

    // The scree report off the same single-pass covariance: per-
    // component eigenvalue + cumulative fraction of total variance —
    // the "how many dims does MY corpus need" dial that prices the
    // PCA/IVF/PQ dimension choices. HASH-EXACT via a PLANTED SPECTRUM:
    // each doc becomes a single-nonzero-coordinate vector (coordinate
    // = ⌊doc_id/2⌋ mod 8, magnitude = coordinate+1, sign alternating
    // within each consecutive id pair), so coordinate means cancel to
    // EXACTLY 0.0 (pairwise ±integer sums stay integral in FP) and the
    // empirical covariance is exactly diagonal with distinct entries —
    // the eigenvalues ARE the per-coordinate variances, computable in
    // SQL without touching LAPACK's basis-sign hazard, while the
    // operator still runs its full covariance-aggregate + driver-eigen
    // path. The real-corpus demo stays on q_pca_embed (rows-only,
    // spec-pinned).
    Case("q_pca_scree", (s, dir) => {
      val d = 8
      val coord = pmod(shiftright(col("doc_id"), 1), lit(d))
      val sign = when(pmod(col("doc_id"), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
      val planted = t(s, dir, "documents").select(
        transform(sequence(lit(0), lit(d - 1)), j =>
          when(j.cast("long") === coord,
               sign * (coord + 1).cast("double"))
            .otherwise(lit(0.0))).as("embedding"))
      graft.similarity.EmbeddingPca.varianceExplained(
        planted, "embedding", k = 16)
    },
      Some("""WITH v AS (SELECT CAST((doc_id // 2) % 8 AS INTEGER) AS coord,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |      * CAST((doc_id // 2) % 8 + 1 AS DOUBLE) AS x
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        |pc AS (SELECT coord, sum(x*x) AS sq, sum(x) AS sm
        |       FROM v GROUP BY 1),
        |ev AS (SELECT coord, sq/nn.n - (sm/nn.n)*(sm/nn.n) AS ev
        |       FROM pc, nn),
        |ord AS (SELECT row_number() OVER (ORDER BY ev DESC, coord) - 1
        |          AS component, ev FROM ev),
        |tot AS (SELECT sum(ev) AS t FROM ev)
        |SELECT CAST(component AS INTEGER) AS component,
        |       round(ev, 6) AS eigenvalue,
        |       round(sum(ev) OVER (ORDER BY component) / tot.t, 6)
        |         AS cum_var_frac
        |FROM ord, tot""".stripMargin)),

    // IVF with a TRAINED codebook: two spherical k-means iterations
    // (assign → per-dimension mean → repeat, all distributed), then the
    // per-list census. Rows-only (k-means isn't reasonably
    // SQL-expressible); the monotone-objective property is spec-asserted.
    Case("q_ivf_trained", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.ivfTrain(emb, "vec_id", "embedding",
                                         nlist = 8, iters = 2)
      SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents)
        .groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_vectors"))
    },
      Some(AnnOracles.ivfTrained)),

    // Product quantization end-to-end: per-subspace k-means codebook
    // (8 subs × 16 codes over 64-dim = 32× compression) → per-row encode
    // → asymmetric-distance top-10 for a raw probe. Rows-only (k-means
    // internals); exactness-on-saturated-vocab, monotone distortion, and
    // planted-cluster retrieval are spec-asserted (PqSpec)
    Case("q_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codebooks train on a corpus SAMPLE (the standard PQ practice —
      // k·nsub centroids need thousands of examples, not billions);
      // encode + ADC serve then run over the full corpus
      val cb = SimilarityOps.pqTrain(emb.filter(col("vec_id") < 1024),
                                     "vec_id", "embedding",
                                     nsub = 8, codes = 16, iters = 1)
      SimilarityOps.pqTopK(emb, "vec_id", "embedding", cb,
                           probeId = 0L, k = 10)
    },
      Some(AnnOracles.pqTopk)),

    // COMPOSED IVF×PQ in RESIDUAL mode (textbook IVFADC): coarse lists
    // prune the scan, product codes over x − c_list rank within — the
    // production ANN serving shape (lists ∧ 32× smaller payloads ∧ the
    // code budget spent on within-list variance). One build pass
    // computes list + codes against two folded broadcast codebooks;
    // zero corpus shuffles; PQ trains on the sample's residuals.
    // Rows-only (k-means internals); exact-on-saturated-vocab (raw AND
    // residual), recall floors, and index round-trip + partition
    // pruning are spec-asserted (IvfPqSpec)
    Case("q_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val res = SimilarityOps.ivfResiduals(
        emb.filter(col("vec_id") < 1024), "vec_id", "embedding", cents)
      val pqCb = SimilarityOps.pqTrain(res, "vec_id", "rvec",
                                       nsub = 8, codes = 16, iters = 1)
      val index = SimilarityOps.ivfPqBuild(emb, "vec_id", "embedding",
                                           cents, pqCb, residual = true)
      SimilarityOps.ivfPqTopK(index, cents, pqCb, emb,
                              "vec_id", "embedding",
                              probeId = 0L, k = 10, nprobe = 3,
                              residual = true)
    },
      Some(AnnOracles.ivfPqTopk)),

    // The Production hash mode (xxhash64 coins/fingerprints instead of
    // md5 — Hashing scaladoc) is NOT a standing bench query: running
    // the whole export flagship twice per bench pass bought one number.
    // The md5-tax is recorded as a timing data point instead (PLANS.md,
    // round-6 status record: 6.63 s md5 vs 6.27 s xxhash64 warm at
    // sf0.1, ~6% — the fixture is machinery-dominated) and HashingSpec
    // pins the two modes' contracts.
    // Embedding near-dup pairs via LSH buckets (scale path for
    // q_cosine_pairs; recall vs brute force measured in spec — no oracle)
    Case("q_lsh_cosine_pairs", (s, dir) =>
      SimilarityOps.lshCosinePairs(t(s, dir, "embeddings"),
                                   "vec_id", "embedding",
                                   tau = 0.45, bits = 4),
      None),

    // Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al. SIGIR'09,
    // c=60) of the BM25 lexical leg and the cosine semantic leg over the
    // aligned doc/vec id space — rank-only fusion, no score calibration;
    // both legs top-20-bounded at the source, fusion joins two tiny frames
    Case("q_rrf_fusion", (s, dir) =>
      SimilarityOps.hybridTopK(t(s, dir, "documents"),
                               t(s, dir, "embeddings"),
                               Seq("spark", "vector", "stream"),
                               probeId = 0L, n = 20, k = 10),
      // RRF: the q_bm25 chain (top-20) + the q_cosine_topk chain (top-20),
      // each ranked on its rounded score with id tie-breaks, fused by
      // 1/(60+rank) over a full outer join on the shared id space.
      Some("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats),
        |bm AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY 1
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id AS id, CAST(row_number() OVER
        |          (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |        FROM bm),
        |flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                generate_subscripts(embedding, 1) AS i
        |         FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |probe AS (SELECT i, v FROM flat WHERE vec_id = 0),
        |pnorm AS (SELECT nrm FROM norms WHERE vec_id = 0),
        |dots AS (SELECT f.vec_id, sum(f.v*p.v) AS dot
        |         FROM flat f JOIN probe p ON f.i = p.i
        |         WHERE f.vec_id <> 0 GROUP BY 1),
        |top AS (SELECT d.vec_id,
        |          round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) AS sim
        |        FROM dots d JOIN norms n ON n.vec_id = d.vec_id
        |        ORDER BY sim DESC, d.vec_id ASC LIMIT 20),
        |sem AS (SELECT vec_id AS id, CAST(row_number() OVER
        |          (ORDER BY sim DESC, vec_id) AS BIGINT) AS sem_rank
        |        FROM top)
        |SELECT coalesce(l.id, s.id) AS doc_id, l.lex_rank, s.sem_rank,
        |       round(coalesce(1.0/(60+l.lex_rank), 0) +
        |             coalesce(1.0/(60+s.sem_rank), 0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // MMR diversity re-rank (Carbonell & Goldstein SIGIR'98) over the
    // cosine top-20 pool, λ=0.5 — the near-dup-aware serving of the
    // retrieval stack. Iterative greedy, yet oracle-EXACT via the
    // unrolled CTE chain (mmrOracleGen): every argmax input is on the
    // round-6 grid in both engines, so the pick sequence reproduces
    Case("q_mmr_rerank", (s, dir) =>
      SimilarityOps.mmrRerank(t(s, dir, "embeddings"), "vec_id",
                              "embedding", probeId = 0L, lambda = 0.5,
                              n = 20, k = 10),
      Some(mmrOracleGen(0L, 0.5, 20, 10))),

    // Multi-probe ANN: own bucket + Hamming-1 ring (the recall dial
    // that needs no index rebuild); candidates exact-scored, rows-only
    // (MinHash/LSH internals), recall-dominance spec'd
    Case("q_ann_multiprobe", (s, dir) =>
      SimilarityOps.annTopKMulti(t(s, dir, "embeddings"), "vec_id",
                                 "embedding", probeId = 0L, k = 10,
                                 bits = 6, probes = 6),
      None),

    // Grouped embedding mean through the native vector_sum aggregate
    // (single double[d] buffer per group, map-side combined — the
    // centroid / mean-pooling primitive; oracle checks first+last dims)
    Case("q_vector_mean", (s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("g", (col("vec_id") % 3).cast("int"))
        .groupBy(col("g"))
        // count(embedding), not count(*): vector_sum null-skips, and the
        // DuckDB avg() oracle null-skips too — the denominators must agree
        .agg(graft.functions.VectorAggregates.vectorSum(col("embedding"))
               .as("vsum"),
             count(col("embedding")).as("n_vecs"))
        .select(col("g"), col("n_vecs"),
                round(element_at(col("vsum"), 1) / col("n_vecs"), 6)
                  .as("m0"),
                round(element_at(col("vsum"), -1) / col("n_vecs"), 6)
                  .as("mlast")),
      Some("""SELECT CAST(vec_id % 3 AS INT) AS g,
        |       count(embedding) AS n_vecs,
        |       round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS m0,
        |       round(avg(CAST(embedding[-1] AS DOUBLE)), 6) AS mlast
        |FROM embeddings GROUP BY 1""".stripMargin))
  )

  /** DuckDB cosine over double lists — `list_dot_product` accumulates
    * sequentially over the list, the same order as the engine's
    * CosineSimilarity loop, so the two agree to the ulp and the
    * round(·,6) grid both sides share can never disagree.
    */
  private def duckCos(a: String, b: String): String =
    s"(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))))"

  /** round(x, 6) with SPARK's rounding rule: Spark (and the engine's r6
    * grid) round the double's SHORTEST DECIMAL representation HALF_UP
    * (BigDecimal.valueOf semantics), while DuckDB's round(DOUBLE) rounds
    * the true binary value — the two disagree exactly when the shortest
    * repr lands on a .xxxxxx5 midpoint whose binary value sits below it.
    * VARCHAR cast IS DuckDB's shortest-repr printer, so
    * round(CAST(CAST(x AS VARCHAR) AS DECIMAL), 6) reproduces Spark
    * bit-for-bit; the cast back to DOUBLE keeps downstream arithmetic
    * and the compare's types unchanged. Used where grid-affine
    * arithmetic (λ·grid − (1−λ)·grid) concentrates values near
    * midpoints — the r9 fuzz caught MMR there (λ=0.3, x=−0.0638835:
    * Spark −0.063884, plain DuckDB round −0.063883). Full-entropy
    * doubles elsewhere hit a midpoint with negligible probability and
    * keep the plain round.
    */
  private def duckR6(e: String): String =
    s"CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,19)), 6) " +
      "AS DOUBLE)"

  /** q_kcenter_select twin: the greedy farthest-point loop UNROLLED to
    * k−1 chained CTE steps — k is the query's own constant, and SQL has
    * no bounded loop, so the oracle is GENERATED (the first generated
    * oracle; the map value is still one plain SQL string). Each step
    * keeps the running min-distance frame (the engine's persisted
    * `mind` column) and picks argmax(mind) with the id tie-break; radii
    * round to 6 on both sides. The engine's early-stop branch
    * (max mind ≤ 1e-12, i.e. fewer than k distinct directions) never
    * fires on this fixture and is deliberately not modeled.
    */
  private[graft] def kcenterOracleGen(k: Int): String = {
    val head =
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE list_dot_product(
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |          list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
         |),
         |c0 AS (SELECT id, v FROM base ORDER BY id LIMIT 1),
         |d1 AS (SELECT b.id, b.v, 1 - ${duckCos("b.v", "c0.v")} AS mind
         |       FROM base b, c0)""".stripMargin
    val steps = (1 until k).flatMap { i =>
      val pick = s"p$i AS MATERIALIZED (SELECT id, v, mind FROM d$i " +
        "ORDER BY mind DESC, id ASC LIMIT 1)"
      if (i < k - 1)
        Seq(pick,
            s"d${i + 1} AS (SELECT d.id, d.v, least(d.mind, 1 - " +
              duckCos("d.v", s"p$i.v") + s") AS mind FROM d$i d, p$i)")
      else Seq(pick)
    }
    val out = Seq(
      "SELECT 0 AS rank, id, CAST(NULL AS DOUBLE) AS radius FROM c0") ++
      (1 until k).map(i => s"SELECT $i, id, round(mind, 6) FROM p$i")
    (Seq(head) ++ steps).mkString(",\n") + "\n" +
      out.mkString("\nUNION ALL ")
  }

  /** q_mmr_rerank twin: the MMR greedy UNROLLED to k picks over the
    * top-n pool (the kcenterOracleGen pattern). Every quantity the argmax
    * and the running max-sim state see is rounded to 6 IN THE ENGINE
    * (mmrRerank reproduces the distributed round), so the SQL twin
    * lands on identical grid points and the pick sequence is exact.
    */
  private[graft] def mmrOracleGen(probe: Long, lam: Double,
                                  n: Int, k: Int): String = {
    val head =
      s"""WITH dv AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |probe AS (SELECT v FROM dv WHERE id = $probe),
         |pool1 AS MATERIALIZED (
         |  SELECT d.id, ${duckR6(duckCos("d.v", "p.v"))} AS rel, d.v,
         |         0.0 AS maxs
         |  FROM dv d, probe p WHERE d.id <> $probe
         |  ORDER BY rel DESC, id ASC LIMIT $n
         |)""".stripMargin
    val steps = (1 to k).flatMap { i =>
      // s_i and pool_i are each referenced twice (the output UNION /
      // the next pool) — un-materialized, DuckDB re-evaluates the whole
      // upstream chain per reference and the k=10 board query cost 31 s;
      // MATERIALIZED everywhere makes it 0.05 s, rows identical
      val pick = s"s$i AS MATERIALIZED (SELECT id, rel, v, " +
        duckR6(s"$lam*rel - ${1.0 - lam}*maxs") + " AS mmr " +
        s"FROM pool$i ORDER BY mmr DESC, id ASC LIMIT 1)"
      if (i < k)
        Seq(pick,
            s"pool${i + 1} AS (SELECT p.id, p.rel, p.v, " +
              s"greatest(p.maxs, ${duckR6(duckCos("p.v", "s.v"))}) " +
              s"AS maxs FROM pool$i p, s$i s WHERE p.id <> s.id)")
      else Seq(pick)
    }
    val out = (1 to k).map(i =>
      s"SELECT ${i - 1} AS rank, id AS vec_id, rel, mmr FROM s$i")
    (Seq(head) ++ steps).mkString(",\n") + "\n" +
      out.mkString("\nUNION ALL ")
  }

  /** Brute-force cosine top-10 for probe 0 — the contract of BOTH
    * q_cosine_topk (the direct exact twin) and q_reindex (served at
    * nprobe = nlist off the rebuilt index, which must equal it).
    */
  /** Parameterized brute-force cosine top-k twin (board: probe 0,
    * k=10 — shared by q_cosine_topk and q_reindex; the fuzzer sweeps
    * probe id and k).
    */
  private[graft] def cosineTopkOracleGen(probe: Long, k: Int): String =
    s"""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |                     generate_subscripts(embedding,1) AS i
       |              FROM embeddings),
       |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
       |         FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
       |probe AS (SELECT i, v FROM flat WHERE vec_id = $probe),
       |plen AS (SELECT l FROM lens WHERE vec_id = $probe),
       |pnorm AS (SELECT nrm FROM norms WHERE vec_id = $probe),
       |dots AS (SELECT f.vec_id, sum(f.v*p.v) AS dot
       |         FROM flat f JOIN probe p ON f.i = p.i
       |         WHERE f.vec_id <> $probe GROUP BY 1)
       |SELECT d.vec_id,
       |       round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) AS sim
       |FROM dots d JOIN norms n ON n.vec_id = d.vec_id
       |JOIN lens dl ON dl.vec_id = d.vec_id
       |WHERE dl.l = (SELECT l FROM plen) AND n.nrm > 0
       |ORDER BY round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) DESC,
       |         d.vec_id ASC
       |LIMIT $k""".stripMargin

  private val cosineTopkOracle: String = cosineTopkOracleGen(0L, 10)

  /** Cluster-coherent split census: every near-dup component (min-id
    * key, singletons keyed by their own id) draws ONE md5 coin over the
    * key's decimal string — the same closure truth as the cluster
    * oracle, then the trainSplit hex-digit partition on the cluster key.
    */
  /** Shared by q_decontaminate and q_decontaminate_bloom — the Bloom
    * screen is contract-identical to the exact join, so one oracle
    * definition serves both (the spanCtes/curateKeptCtes no-drift
    * discipline).
    */
  /** Parameterized q_cosine_pairs twin (board: τ=0.45). A pair is only
    * DEFINED between same-dimension positive-norm vectors — the
    * engine's cosine is null otherwise (degenerates can never pair);
    * without the explicit conditions a dim-mismatched pair would score
    * its index-overlap in SQL and spuriously pass τ.
    */
  private[graft] def cosinePairsOracleGen(tau: Double): String =
    s"""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |                     generate_subscripts(embedding,1) AS i
       |              FROM embeddings),
       |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
       |         FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
       |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
       |         FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
       |         GROUP BY 1,2)
       |SELECT id_a, id_b, round(dot/(na.nrm*nb.nrm), 6) AS sim
       |FROM dots JOIN norms na ON na.vec_id = id_a
       |          JOIN norms nb ON nb.vec_id = id_b
       |          JOIN lens la ON la.vec_id = id_a
       |          JOIN lens lb ON lb.vec_id = id_b
       |WHERE la.l = lb.l AND na.nrm > 0 AND nb.nrm > 0
       |  AND dot/(na.nrm*nb.nrm) >= $tau""".stripMargin

  /** Parameterized q_semantic_decon twin (board: τ=0.4). */
  private[graft] def semDeconOracleGen(tau: Double): String =
    s"""WITH flat AS (SELECT vec_id, label,
        |                     CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding, 1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm
        |          FROM flat GROUP BY 1),
        |dots AS (SELECT cf.vec_id AS cid, bf.vec_id AS bid,
        |                sum(cf.v * bf.v) AS dot
        |         FROM flat cf JOIN flat bf ON cf.i = bf.i
        |         WHERE cf.label <> 0 AND bf.label = 0
        |         GROUP BY 1, 2),
        |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
        |         FROM embeddings),
        |sims AS (SELECT cid, bid, dot / (cn.nrm * bn.nrm) AS sim
        |         FROM dots
        |         JOIN norms cn ON cn.vec_id = cid
        |         JOIN norms bn ON bn.vec_id = bid
        |         JOIN lens cl ON cl.vec_id = cid
        |         JOIN lens bl ON bl.vec_id = bid
        |         WHERE cl.l = bl.l AND cn.nrm > 0 AND bn.nrm > 0),
        |ranked AS (SELECT cid, bid, sim,
        |                  row_number() OVER (PARTITION BY cid
        |                                     ORDER BY sim DESC, bid ASC)
        |                    AS rn
        |           FROM sims)
        |SELECT cid AS vec_id, bid AS bench_id, round(sim, 6) AS max_sim
        |FROM ranked WHERE rn = 1 AND sim >= $tau""".stripMargin
}
