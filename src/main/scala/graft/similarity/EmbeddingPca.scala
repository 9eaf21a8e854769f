package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA / whitening over an embedding column — the standard
  * dimensionality-reduction pass of a retrieval/dedup pipeline (SemDeDup
  * and friends routinely cluster in a reduced, whitened space; IVF/PQ
  * codebooks train faster and prune better on decorrelated inputs).
  *
  * Scale shape — the only hard part of PCA at 100 TB is the covariance,
  * and it is ONE global aggregate: each row contributes its flattened
  * outer product x·xᵀ (d² doubles) into a `vector_sum` buffer, so the
  * map side combines n vectors down to ONE d²-length array per task and
  * the "shuffle" is tasks × d² doubles into a single reduce. The
  * eigendecomposition then runs on the DRIVER over a d × d matrix —
  * driver state is O(d²) BY CONSTRUCTION (64-dim ⇒ 32 KB), independent
  * of corpus size: the same size-gated-driver-solve discipline as the
  * quality classifier's ≤ dim+1-row gradient. The projection is a
  * narrow per-row pass against the broadcast-folded basis (k dots per
  * row), no shuffle at all.
  *
  * Numerical contract: covariance = E[xxᵀ] − μμᵀ in doubles;
  * eigenvectors from breeze's LAPACK `eigSym` (symmetric, so real
  * spectrum), components ordered by eigenvalue DESC with ties broken
  * toward the earlier index, and each eigenvector sign-normalized so
  * its largest-|entry| coordinate is positive (LAPACK's sign is
  * otherwise arbitrary — this pins a deterministic basis for a given
  * covariance). Floating summation order still moves the covariance by
  * ulps across partitionings, so projections are reproducible to ~1e-6,
  * not bit-exact: the PCA queries are rows-only by design, properties
  * spec-pinned (PcaSpec).
  */
object EmbeddingPca {

  /** The fitted model: all-driver state, O(d·k) + O(d). */
  final case class Model(mean: Array[Double],
                         eigenvalues: Array[Double], // top-k, desc
                         basis: Array[Array[Double]], // k rows × d cols
                         whiten: Boolean) {
    def d: Int = mean.length
    def k: Int = basis.length
  }

  /** Fit mean/covariance distributed (one aggregate, see object doc),
    * eigendecompose on the driver, keep the top `k` components.
    * Vectors whose length differs from the first-seen dimension (and
    * null/empty ones) are excluded — the pqEncode encodability contract.
    * `whiten = true` additionally scales each projected coordinate by
    * 1/√λ so the projected data has unit variance per component
    * (eigenvalues below `1e-12` are left unscaled rather than exploding
    * a numerically-zero direction).
    */
  def fit(emb: DataFrame, vecCol: String, k: Int,
          whiten: Boolean = false): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dRow = emb.filter(size(col(vecCol)) > 0)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
    require(dRow.nonEmpty, "fit needs at least one non-empty vector")
    val d = dRow(0).getInt(0)
    fitDim(emb, vecCol, math.min(k, d), d, whiten)
  }

  private def fitDim(emb: DataFrame, vecCol: String, k: Int, d: Int,
                     whiten: Boolean): Model = {
    val dvec = transform(col(vecCol), _.cast("double"))
    // one pass, one reduce row: n, Σx (d), Σ flatten(x·xᵀ) (d²)
    val outer = flatten(transform(dvec, x => transform(dvec, y => x * y)))
    val row = emb.filter(size(col(vecCol)) === d)
      .agg(count(lit(1)).as("n"),
           graft.functions.VectorAggregates.vectorSum(dvec).as("s"),
           graft.functions.VectorAggregates.vectorSum(outer).as("g"))
      .collect()(0)
    val n = row.getLong(0).toDouble
    require(n > 1, "fit needs at least two conforming vectors")
    val s = row.getSeq[Double](1).toArray
    val g = row.getSeq[Double](2).toArray
    val mean = s.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      g(i * d + j) / n - mean(i) * mean(j)
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ASC in breeze
    val order = (0 until d).sortBy(i => (-es.eigenvalues(i), i)).take(k)
    val basis = order.map { i =>
      val v = Array.tabulate(d)(r => es.eigenvectors(r, i))
      // deterministic sign: largest-|entry| coordinate positive
      val pivot = v.indices.maxBy(j => (math.abs(v(j)), -j))
      if (v(pivot) < 0) v.map(x => -x) else v
    }.toArray
    Model(mean, order.map(es.eigenvalues(_)).toArray, basis, whiten)
  }

  /** Project `emb` onto the fitted basis: (x − μ)·vᵢ per component
    * (μ·vᵢ folds to a driver-side constant, so each row pays exactly k
    * dot products against the broadcast basis literal — one narrow
    * projection, zero exchanges). Non-conforming vectors project to
    * null. Output: input id column + `proj` array<double>[k].
    */
  def project(emb: DataFrame, idCol: String, vecCol: String,
              model: Model): DataFrame = {
    val dvec = transform(col(vecCol), _.cast("double"))
    val comps: Seq[Column] = model.basis.zipWithIndex.map {
      case (v, i) =>
        val shift = model.mean.lazyZip(v).map(_ * _).sum
        val scale =
          if (model.whiten && model.eigenvalues(i) > 1e-12)
            1.0 / math.sqrt(model.eigenvalues(i))
          else 1.0
        (graft.functions.VectorExpressions.dotProduct(dvec, typedLit(v))
          - lit(shift)) * lit(scale)
    }
    emb.select(col(idCol),
               when(size(col(vecCol)) === model.d, array(comps: _*))
                 .as("proj"))
  }

  /** The scree report: per kept component its eigenvalue (= projected
    * variance) and the cumulative fraction of TOTAL variance explained —
    * the "how many dims do I actually need" signal, as a (tiny, k-row)
    * DataFrame. totalVar is the covariance trace, computed from the same
    * single-pass fit.
    */
  def varianceExplained(emb: DataFrame, vecCol: String, k: Int)
      : DataFrame = {
    // the trace (total variance) needs the FULL spectrum, so fit
    // full-rank ONCE (the aggregate costs the same at any k — only the
    // driver-side slice differs) and slice the report to k components
    val full = fit(emb, vecCol, Int.MaxValue)
    val total = full.eigenvalues.sum
    val kept = full.eigenvalues.take(math.min(k, full.d))
    val rows = kept.zipWithIndex.map { case (ev, i) =>
      (i, math.rint(ev * 1e6) / 1e6,
       math.rint(kept.take(i + 1).sum / total * 1e6) / 1e6)
    }
    emb.sparkSession.createDataFrame(rows.toSeq)
      .toDF("component", "eigenvalue", "cum_var_frac")
  }
}
