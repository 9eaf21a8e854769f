package graft

/** GENERATED DuckDB twins for the ANN index family — queries that were
  * rows-only through round 6 ("k-means / index internals aren't
  * reasonably SQL-expressible") until the kcenterOracleGen precedent
  * showed the real recipe: every one of these pipelines is a FIXED
  * number of deterministic dataflow steps (seed → assign → mean →
  * encode → serve), so the oracle is the same dataflow written as a
  * CTE chain, with iteration counts unrolled at generation time.
  *
  * Cross-engine determinism rests on three contracts the engine
  * already keeps for its own reasons:
  *   - every argmax/argmin tie breaks on the id/code/list (strict
  *     comparisons over sorted folds ↔ `row_number ORDER BY metric,
  *     key`);
  *   - DuckDB's `list_dot_product` accumulates sequentially in the
  *     same order as the engine's fused cosine/dot loops, so the
  *     doubles agree to the ulp;
  *   - every SERVED number (sims, ADC distances, drift) lands on the
  *     shared round-6 grid before comparison, absorbing
  *     aggregation-order ulps in the means.
  *
  * Fixture constants (d = 64, nlist = 8, nsub = 8, codes = 16,
  * nprobe = 3, sample id < 1024, probe id 0) are the queries' own —
  * regenerate in lockstep if a query's geometry changes.
  */
private[graft] object AnnOracles {

  private def dot(a: String, b: String): String =
    s"list_dot_product($a,$b)"

  private def cosSql(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** Shared head: vectors as double lists + the 8 seed centroids
    * (lowest ids, list_id = id rank) over an arbitrary base relation.
    */
  private def seedCents(base: String): String =
    s"""seed AS (SELECT id, v FROM $base ORDER BY id ASC LIMIT 8),
       |cents0 AS (SELECT row_number() OVER (ORDER BY id ASC) - 1
       |             AS list_id, v AS cvec FROM seed)""".stripMargin

  private val dv: String =
    """dv AS (SELECT vec_id AS id,
      |              list_transform(embedding, x->CAST(x AS DOUBLE)) AS v
      |       FROM embeddings)""".stripMargin

  /** argmax-cosine assignment of `rel` against `cents` (tie → lower
    * list), as (id, v, list_id[, cvec]) with rn=1 filter left to the
    * consumer.
    */
  private def assign(name: String, rel: String, cents: String): String =
    s"""$name AS (SELECT d.id, d.v, c.list_id, c.cvec,
       |       row_number() OVER (PARTITION BY d.id
       |         ORDER BY ${cosSql("d.v", "c.cvec")} DESC,
       |                  c.list_id ASC) AS rn
       |FROM $rel d CROSS JOIN $cents c)""".stripMargin

  /** One Lloyd round: per-list per-dimension means over `asg` (rn=1,
    * non-empty vectors), empty clusters carry the previous centroid.
    */
  private def lloyd(asg: String, prevCents: String,
                    outCents: String): String =
    s"""m_$outCents AS (SELECT list_id, dim, sum(x) AS sx, any_value(cnt) AS cnt
       |  FROM (SELECT list_id, generate_subscripts(v,1) AS dim,
       |               unnest(v) AS x
       |        FROM $asg WHERE rn = 1 AND len(v) > 0) t
       |  JOIN (SELECT list_id AS l2, count(*) AS cnt
       |        FROM $asg WHERE rn = 1 AND len(v) > 0 GROUP BY 1) c
       |    ON c.l2 = t.list_id
       |  GROUP BY 1, 2),
       |mv_$outCents AS (SELECT list_id, list(sx/cnt ORDER BY dim) AS mvec
       |  FROM m_$outCents GROUP BY 1),
       |$outCents AS (SELECT c.list_id, coalesce(mv.mvec, c.cvec) AS cvec
       |  FROM $prevCents c LEFT JOIN mv_$outCents mv USING (list_id))""".stripMargin

  /** q_ivf_topk: seed codebook, argmax-cosine assignment, top-nprobe
    * list pruning, rounded top-k within — the serve path exactly.
    */
  val ivfTopk: String =
    s"""WITH $dv,
       |${seedCents("dv")},
       |${assign("asg", "dv", "cents0")},
       |probe AS (SELECT v FROM dv WHERE id = 0),
       |tl AS (SELECT c.list_id FROM cents0 c, probe p
       |       ORDER BY ${cosSql("c.cvec", "p.v")} DESC, c.list_id ASC
       |       LIMIT 3)
       |SELECT a.id AS vec_id, round(${cosSql("a.v", "p.v")}, 6) AS sim
       |FROM (SELECT id, v, list_id FROM asg WHERE rn = 1) a
       |JOIN tl USING (list_id), probe p
       |WHERE a.id <> 0
       |ORDER BY sim DESC, a.id ASC LIMIT 10""".stripMargin

  /** q_ivf_trained: two unrolled Lloyd rounds, then the per-list
    * census of the final assignment.
    */
  val ivfTrained: String =
    s"""WITH $dv,
       |${seedCents("dv")},
       |${assign("asg0", "dv", "cents0")},
       |${lloyd("asg0", "cents0", "cents1")},
       |${assign("asg1", "dv", "cents1")},
       |${lloyd("asg1", "cents1", "cents2")},
       |${assign("fin", "dv", "cents2")}
       |SELECT list_id, count(*) AS n_vectors
       |FROM fin WHERE rn = 1 GROUP BY 1""".stripMargin

  /** PQ codebook over `svRel` (id, sub_id, sv): seed = first `codes`
    * subvectors per sub by id, one Lloyd round on the argmin of the
    * engine's ‖c‖² − 2·sv·c objective (tie → lower code).
    */
  private def pqCodebook(svRel: String, codes: Int): String =
    s"""pqseed AS (SELECT sub_id,
       |    row_number() OVER (PARTITION BY sub_id ORDER BY id ASC) - 1
       |      AS code, sv AS cvec
       |  FROM $svRel
       |  QUALIFY row_number() OVER (PARTITION BY sub_id ORDER BY id ASC)
       |    <= $codes),
       |pasg AS (SELECT sv.id, sv.sub_id, sv.sv, c.code,
       |    row_number() OVER (PARTITION BY sv.id, sv.sub_id
       |      ORDER BY ${dot("c.cvec", "c.cvec")} -
       |               2*${dot("sv.sv", "c.cvec")} ASC, c.code ASC) AS rn
       |  FROM $svRel sv JOIN pqseed c USING (sub_id)),
       |pm AS (SELECT sub_id, code, dim, sum(x) AS sx, any_value(cnt) AS cnt
       |  FROM (SELECT sub_id, code, generate_subscripts(sv,1) AS dim,
       |               unnest(sv) AS x
       |        FROM pasg WHERE rn = 1) t
       |  JOIN (SELECT sub_id AS s2, code AS c2, count(*) AS cnt
       |        FROM pasg WHERE rn = 1 GROUP BY 1, 2) c
       |    ON c.s2 = t.sub_id AND c.c2 = t.code
       |  GROUP BY 1, 2, 3),
       |pmv AS (SELECT sub_id, code, list(sx/cnt ORDER BY dim) AS mvec
       |  FROM pm GROUP BY 1, 2),
       |cb AS (SELECT s.sub_id, s.code, coalesce(mv.mvec, s.cvec) AS cvec
       |  FROM pqseed s LEFT JOIN pmv mv USING (sub_id, code))""".stripMargin

  /** q_pq_topk: PQ codebook trained on the id<1024 sample's RAW
    * subvectors (nsub=8 → dsub=8 at d=64), full-corpus encode, ADC
    * top-10 for probe 0.
    */
  val pqTopk: String = {
    val (nsub, dsub) = (8, 8)
    s"""WITH dv AS (SELECT vec_id AS id,
       |              list_transform(embedding, x->CAST(x AS DOUBLE)) AS v
       |       FROM embeddings WHERE len(embedding) = ${nsub * dsub}),
       |subv AS (SELECT id, s.sub_id,
       |    list_slice(v, s.sub_id*$dsub+1, s.sub_id*$dsub+$dsub) AS sv
       |  FROM dv, (SELECT unnest(range(0,$nsub)) AS sub_id) s
       |  WHERE id < 1024),
       |${pqCodebook("subv", 16)},
       |probe AS (SELECT v FROM dv WHERE id = 0),
       |enc AS (SELECT d.id, c.sub_id, c.code,
       |    row_number() OVER (PARTITION BY d.id, c.sub_id
       |      ORDER BY ${dot("c.cvec", "c.cvec")} - 2*list_dot_product(
       |          list_slice(d.v, c.sub_id*$dsub+1, c.sub_id*$dsub+$dsub),
       |          c.cvec) ASC, c.code ASC) AS rn
       |  FROM dv d CROSS JOIN cb c WHERE d.id <> 0),
       |adc AS (SELECT c.sub_id, c.code,
       |    ${dot("ps.sv", "ps.sv")} - 2*${dot("ps.sv", "c.cvec")} +
       |      ${dot("c.cvec", "c.cvec")} AS pd2
       |  FROM cb c JOIN (SELECT sub_id,
       |      list_slice(p.v, sub_id*$dsub+1, sub_id*$dsub+$dsub) AS sv
       |    FROM probe p, (SELECT unnest(range(0,$nsub)) AS sub_id)) ps
       |    USING (sub_id))
       |SELECT e.id AS vec_id, round(sum(a.pd2), 6) AS dist2
       |FROM enc e JOIN adc a ON a.sub_id = e.sub_id AND a.code = e.code
       |WHERE e.rn = 1
       |GROUP BY e.id
       |ORDER BY dist2 ASC, e.id ASC LIMIT 10""".stripMargin
  }

  /** q_ivfpq_topk: the full residual IVFADC — seed coarse codebook,
    * sample residuals train the PQ codebook, every vector's residual
    * codes vs its OWN list centroid, per-probed-list residual ADC
    * tables, rounded top-10.
    */
  val ivfPqTopk: String = {
    val (nsub, dsub, nprobe) = (8, 8, 3)
    val d = nsub * dsub
    s"""WITH dv AS (SELECT vec_id AS id,
       |              list_transform(embedding, x->CAST(x AS DOUBLE)) AS v
       |       FROM embeddings WHERE len(embedding) = $d),
       |${seedCents("dv")},
       |${assign("asgall", "dv", "cents0")},
       |assigned AS (SELECT id, v, list_id, cvec FROM asgall WHERE rn = 1),
       |res AS (SELECT id,
       |    list_transform(range(1, $d+1), i -> v[i] - cvec[i]) AS rvec
       |  FROM assigned WHERE id < 1024),
       |subv AS (SELECT id, s.sub_id,
       |    list_slice(rvec, s.sub_id*$dsub+1, s.sub_id*$dsub+$dsub) AS sv
       |  FROM res, (SELECT unnest(range(0,$nsub)) AS sub_id) s),
       |${pqCodebook("subv", 16)},
       |rall AS (SELECT id, list_id,
       |    list_transform(range(1, $d+1), i -> v[i] - cvec[i]) AS rvec
       |  FROM assigned),
       |enc AS (SELECT r.id, r.list_id, c.sub_id, c.code,
       |    row_number() OVER (PARTITION BY r.id, c.sub_id
       |      ORDER BY ${dot("c.cvec", "c.cvec")} - 2*list_dot_product(
       |          list_slice(r.rvec, c.sub_id*$dsub+1, c.sub_id*$dsub+$dsub),
       |          c.cvec) ASC, c.code ASC) AS rn
       |  FROM rall r CROSS JOIN cb c),
       |probe AS (SELECT v FROM dv WHERE id = 0),
       |tl AS (SELECT c.list_id AS lid, c.cvec FROM cents0 c, probe p
       |       ORDER BY ${cosSql("c.cvec", "p.v")} DESC, c.list_id ASC
       |       LIMIT $nprobe),
       |rp AS (SELECT tl.lid, s.sub_id,
       |    list_slice(list_transform(range(1, $d+1), i -> p.v[i] - tl.cvec[i]),
       |               s.sub_id*$dsub+1, s.sub_id*$dsub+$dsub) AS sv
       |  FROM tl, probe p, (SELECT unnest(range(0,$nsub)) AS sub_id) s),
       |adc AS (SELECT rp.lid, c.sub_id, c.code,
       |    ${dot("rp.sv", "rp.sv")} - 2*${dot("rp.sv", "c.cvec")} +
       |      ${dot("c.cvec", "c.cvec")} AS pd2
       |  FROM cb c JOIN rp USING (sub_id))
       |SELECT e.id AS vec_id, round(sum(a.pd2), 6) AS dist2
       |FROM enc e JOIN adc a ON a.lid = e.list_id
       |  AND a.sub_id = e.sub_id AND a.code = e.code
       |WHERE e.rn = 1 AND e.id <> 0
       |GROUP BY e.id
       |ORDER BY dist2 ASC, e.id ASC LIMIT 10""".stripMargin
  }

  /** q_ann_eval: the recall/precision grid itself — seed assignment,
    * per-probe ranked lists, ONE candidate relation crossed with the
    * nprobe grid (the engine's one-candidate-pass economics, mirrored),
    * exact ground truth through the same round-6 knnJoin ordering, and
    * the shared eval-contract aggregation.
    */
  val annEval: String = {
    val k = 10
    s"""WITH $dv,
       |${seedCents("dv")},
       |${assign("asg", "dv", "cents0")},
       |assigned AS (SELECT id, v, list_id FROM asg WHERE rn = 1),
       |probes AS (SELECT id AS pid, v AS pv FROM assigned
       |           WHERE id IN (0,7,23,54,91)),
       |pl AS (SELECT p.pid, p.pv, c.list_id AS lid,
       |    row_number() OVER (PARTITION BY p.pid
       |      ORDER BY ${cosSql("c.cvec", "p.pv")} DESC,
       |               c.list_id ASC) AS rl
       |  FROM cents0 c CROSS JOIN probes p
       |  QUALIFY rl <= 8),
       |cand AS (SELECT pl.pid, pl.rl, a.id AS nid,
       |    round(${cosSql("a.v", "pl.pv")}, 6) AS sim
       |  FROM assigned a JOIN pl ON a.list_id = pl.lid
       |  WHERE a.id <> pl.pid),
       |exall AS (SELECT p.pid, a.id AS nid,
       |    round(${cosSql("a.v", "p.pv")}, 6) AS sim,
       |    row_number() OVER (PARTITION BY p.pid
       |      ORDER BY round(${cosSql("a.v", "p.pv")}, 6) DESC,
       |               a.id ASC) AS rn
       |  FROM assigned a CROSS JOIN probes p),
       |ex1 AS (SELECT pid, nid, row_number() OVER (PARTITION BY pid
       |      ORDER BY sim DESC, nid ASC) AS rn2
       |  FROM exall WHERE rn <= ${k + 1} AND pid <> nid),
       |exact AS (SELECT pid, nid FROM ex1 WHERE rn2 <= $k),
       |ec AS (SELECT pid, count(*) AS ec FROM exact GROUP BY 1),
       |grid AS (SELECT unnest([1,2,4,8]) AS np),
       |candn AS (SELECT g.np, c.* FROM cand c CROSS JOIN grid g
       |          WHERE c.rl <= g.np),
       |approx AS (SELECT np, pid, nid FROM (
       |    SELECT np, pid, nid, row_number() OVER (PARTITION BY np, pid
       |      ORDER BY sim DESC, nid ASC) AS rn
       |    FROM candn) WHERE rn <= $k),
       |hits AS (SELECT np, pid, count(*) AS h
       |  FROM approx JOIN exact USING (pid, nid) GROUP BY 1, 2),
       |agg AS (SELECT g.np, count(*) AS n_probes,
       |    round(avg(coalesce(h.h, 0) / CAST(ec.ec AS DOUBLE)), 6)
       |      AS recall,
       |    CAST(sum(coalesce(h.h, 0)) AS BIGINT) AS n_verified
       |  FROM grid g CROSS JOIN ec
       |  LEFT JOIN hits h ON h.np = g.np AND h.pid = ec.pid
       |  GROUP BY 1),
       |nc AS (SELECT np, count(*) AS n_candidates FROM candn GROUP BY 1)
       |SELECT 'ivf-cosine' AS family, 'nprobe=' || a.np AS config,
       |       nc.n_candidates, a.n_verified, a.recall,
       |       round(CASE WHEN nc.n_candidates = 0 THEN 1.0
       |             ELSE a.n_verified / CAST(nc.n_candidates AS DOUBLE)
       |             END, 6) AS precision
       |FROM agg a JOIN nc USING (np)""".stripMargin
  }

  /** One per-config leg of the pqEval oracle: codebook (seed + one
    * Lloyd round on the FULL corpus subvectors), per-probe encode +
    * ADC scoring, top-k, hits vs the shared L2 `exact`, and the
    * eval-contract row.
    */
  private def pqEvalLeg(tag: String, codes: Int, k: Int,
                        dsub: Int, nsub: Int): String =
    s"""pqseed_$tag AS (SELECT sub_id,
       |    row_number() OVER (PARTITION BY sub_id ORDER BY id ASC) - 1
       |      AS code, sv AS cvec
       |  FROM subv
       |  QUALIFY row_number() OVER (PARTITION BY sub_id ORDER BY id ASC)
       |    <= $codes),
       |pasg_$tag AS (SELECT sv.id, sv.sub_id, sv.sv, c.code,
       |    row_number() OVER (PARTITION BY sv.id, sv.sub_id
       |      ORDER BY ${dot("c.cvec", "c.cvec")} -
       |               2*${dot("sv.sv", "c.cvec")} ASC, c.code ASC) AS rn
       |  FROM subv sv JOIN pqseed_$tag c USING (sub_id)),
       |pm_$tag AS (SELECT sub_id, code, dim, sum(x) AS sx,
       |    count(*) AS cnt
       |  FROM (SELECT sub_id, code, generate_subscripts(sv,1) AS dim,
       |               unnest(sv) AS x
       |        FROM pasg_$tag WHERE rn = 1) GROUP BY 1,2,3),
       |pmv_$tag AS (SELECT sub_id, code, list(sx/cnt ORDER BY dim)
       |    AS mvec FROM pm_$tag GROUP BY 1,2),
       |cb_$tag AS (SELECT s.sub_id, s.code,
       |    coalesce(mv.mvec, s.cvec) AS cvec
       |  FROM pqseed_$tag s LEFT JOIN pmv_$tag mv USING (sub_id, code)),
       |enc_$tag AS (SELECT d.id, c.sub_id, c.code, p.pid,
       |    row_number() OVER (PARTITION BY d.id, p.pid, c.sub_id
       |      ORDER BY ${dot("c.cvec", "c.cvec")} - 2*list_dot_product(
       |        list_slice(d.v, c.sub_id*$dsub+1, c.sub_id*$dsub+$dsub),
       |        c.cvec) ASC, c.code ASC) AS rn
       |  FROM dv d CROSS JOIN cb_$tag c CROSS JOIN probes p
       |  WHERE d.id <> p.pid),
       |adc_$tag AS (SELECT ps.pid, c.sub_id, c.code,
       |    ${dot("ps.sv", "ps.sv")} - 2*${dot("ps.sv", "c.cvec")} +
       |      ${dot("c.cvec", "c.cvec")} AS pd2
       |  FROM cb_$tag c JOIN (SELECT p.pid, s.sub_id,
       |      list_slice(p.pv, s.sub_id*$dsub+1, s.sub_id*$dsub+$dsub)
       |        AS sv
       |    FROM probes p,
       |         (SELECT unnest(range(0,$nsub)) AS sub_id) s) ps
       |    USING (sub_id)),
       |scored_$tag AS (SELECT e.pid, e.id AS nid,
       |    round(sum(a.pd2), 6) AS dist2
       |  FROM enc_$tag e JOIN adc_$tag a ON a.pid = e.pid
       |    AND a.sub_id = e.sub_id AND a.code = e.code
       |  WHERE e.rn = 1 GROUP BY 1, 2),
       |approx_$tag AS (SELECT pid, nid FROM (
       |    SELECT pid, nid, row_number() OVER (PARTITION BY pid
       |      ORDER BY dist2 ASC, nid ASC) AS rn
       |    FROM scored_$tag) WHERE rn <= $k),
       |hits_$tag AS (SELECT pid, count(*) AS h
       |  FROM approx_$tag JOIN exact USING (pid, nid) GROUP BY 1),
       |row_$tag AS (SELECT 'pq-l2' AS family, 'codebook=$tag' AS config,
       |    (SELECT count(*) FROM scored_$tag) AS n_candidates,
       |    CAST(sum(coalesce(h.h, 0)) AS BIGINT) AS n_verified,
       |    round(avg(coalesce(h.h, 0) / CAST(ec.ec AS DOUBLE)), 6)
       |      AS recall
       |  FROM ec LEFT JOIN hits_$tag h USING (pid))""".stripMargin

  /** q_pq_eval: two full-corpus PQ codebooks scored against the shared
    * rounded-L2 exact twin, on the shared eval contract.
    */
  val pqEval: String = {
    val (k, nsub, dsub) = (10, 8, 8)
    s"""WITH dv AS (SELECT vec_id AS id,
       |              list_transform(embedding, x->CAST(x AS DOUBLE)) AS v
       |       FROM embeddings WHERE len(embedding) = ${nsub * dsub}),
       |probes AS (SELECT id AS pid, v AS pv FROM dv
       |           WHERE id IN (0,23,91)),
       |subv AS (SELECT id, s.sub_id,
       |    list_slice(v, s.sub_id*$dsub+1, s.sub_id*$dsub+$dsub) AS sv
       |  FROM dv, (SELECT unnest(range(0,$nsub)) AS sub_id) s),
       |exall AS (SELECT p.pid, d.id AS nid,
       |    round(${dot("d.v", "d.v")} - 2*${dot("d.v", "p.pv")} +
       |          ${dot("p.pv", "p.pv")}, 6) AS d2
       |  FROM dv d CROSS JOIN probes p WHERE d.id <> p.pid),
       |exact AS (SELECT pid, nid FROM (
       |    SELECT pid, nid, row_number() OVER (PARTITION BY pid
       |      ORDER BY d2 ASC, nid ASC) AS rn
       |    FROM exall) WHERE rn <= $k),
       |ec AS (SELECT pid, count(*) AS ec FROM exact GROUP BY 1),
       |${pqEvalLeg("8x16", 16, k, dsub, nsub)},
       |${pqEvalLeg("8x2", 2, k, dsub, nsub)}
       |SELECT family, config, n_candidates, n_verified, recall,
       |       round(CASE WHEN n_candidates = 0 THEN 1.0
       |             ELSE n_verified / CAST(n_candidates AS DOUBLE)
       |             END, 6) AS precision
       |FROM (SELECT * FROM row_8x16 UNION ALL SELECT * FROM row_8x2)""".stripMargin
  }

  /** q_index_drift: one Lloyd round on the standing ¾, then the
    * per-list (count, mean assignment cosine) report for standing vs
    * batch against the SAME frozen codebook, drift = the rounded gap.
    */
  val indexDrift: String =
    s"""WITH $dv,
       |old AS (SELECT * FROM dv WHERE id % 4 <> 0),
       |batch AS (SELECT * FROM dv WHERE id % 4 = 0),
       |${seedCents("old")},
       |${assign("asg0", "old", "cents0")},
       |${lloyd("asg0", "cents0", "cents")},
       |${assign("sa", "old", "cents")},
       |standing AS (SELECT list_id, count(*) AS n_index,
       |    round(avg(${cosSql("v", "cvec")}), 6) AS sim_index
       |  FROM sa WHERE rn = 1 GROUP BY 1),
       |${assign("ba", "batch", "cents")},
       |bt AS (SELECT list_id, count(*) AS n_batch,
       |    round(avg(${cosSql("v", "cvec")}), 6) AS sim_batch
       |  FROM ba WHERE rn = 1 GROUP BY 1)
       |SELECT coalesce(s.list_id, b.list_id) AS list_id,
       |       coalesce(s.n_index, 0) AS n_index, s.sim_index,
       |       coalesce(b.n_batch, 0) AS n_batch, b.sim_batch,
       |       round(s.sim_index - b.sim_batch, 6) AS drift
       |FROM standing s FULL OUTER JOIN bt b USING (list_id)""".stripMargin
}
