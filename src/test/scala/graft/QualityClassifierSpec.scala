package graft

import org.apache.spark.sql.functions._

import graft.text.{QualityClassifier, TextOps}

/** Distilled quality classifier: hashed-BoW logistic regression trained
  * by deterministic full-batch GD.
  */
class QualityClassifierSpec extends SparkSpec {

  private def toy() = {
    import spark.implicits._
    val good = (1L to 20L).map(i => (i, "good great excellent fine", 1.0))
    val bad = (21L to 40L).map(i => (i, "bad awful poor broken", 0.0))
    val df = (good ++ bad).toDF("doc_id", "text", "y")
    (df, df.select(col("doc_id"), col("y")))
  }

  /** A model's weights on the 1e-6 grid `score` rounds to. */
  private def grid6(model: Array[Double]): Seq[Long] =
    model.toSeq.map(v => math.rint(v * 1e6).toLong)

  test("separable toy corpus is classified correctly") {
    val (docs, labels) = toy()
    val w = QualityClassifier.train(docs, labels, dim = 256, iters = 30)
    val p = QualityClassifier.score(docs, w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 20L).forall(p(_) > 0.5))
    assert((21L to 40L).forall(p(_) < 0.5))
  }

  test("training reduces log-loss below the zero-model's ln 2") {
    val (docs, labels) = toy()
    val w0 = Array.fill(257)(0.0)
    val w = QualityClassifier.train(docs, labels, dim = 256, iters = 10)
    val l0 = QualityClassifier.logLoss(docs, labels, w0)
    val l = QualityClassifier.logLoss(docs, labels, w)
    assert(math.abs(l0 - math.log(2.0)) < 1e-6)
    assert(l < l0)
  }

  test("training is deterministic (RNG-free, full-batch)") {
    val (docs, labels) = toy()
    val a = QualityClassifier.train(docs, labels, dim = 64, iters = 5)
    val b = QualityClassifier.train(docs, labels, dim = 64, iters = 5)
    assert(a.length === 65 && b.length === 65)
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
  }

  test("features: L1-normalized per doc; docs without tokens drop") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val f = QualityClassifier.hashedFeatures(df, dim = 16)
    assert(f.select(col("doc_id")).distinct().as[Long].collect().toSet
      === Set(1L))
    val tot = f.groupBy(col("doc_id")).agg(sum(col("x")).as("s"))
      .head().getDouble(1)
    assert(math.abs(tot - 1.0) < 1e-12)
  }

  test("GD loop matches an independent scalar reimplementation " +
       "coefficient-for-coefficient; checksums agree") {
    val (docs, labels) = toy()
    val dim = 32; val iters = 7; val lr = 2.0
    // scalar replica: same features (hashedFeatures is pinned by its
    // own test), plain-Scala full-batch GD — no windows, no aggregates
    val feats = QualityClassifier.hashedFeatures(docs, dim = dim)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val y = labels.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ids = feats.map(_._1).distinct.toSeq
    val triples = feats.toSeq ++ ids.map(id => (id, dim, 1.0)) // bias
    val n = ids.size.toDouble
    var w = Array.fill(dim + 1)(0.0)
    for (_ <- 0 until iters) {
      val m = triples.groupBy(_._1).map { case (id, ts) =>
        id -> ts.map(t => t._3 * w(t._2)).sum
      }
      val g = Array.fill(dim + 1)(0.0)
      triples.foreach { case (id, b, x) =>
        g(b) += x * (1.0 / (1.0 + math.exp(-m(id))) - y(id))
      }
      // train's documented contract includes the shared 1e-9 weight
      // grid (the unrolled-oracle recipe) — the replica applies it too
      w = w.zipWithIndex.map { case (v, b) =>
        java.math.BigDecimal.valueOf(v - lr * g(b) / n)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
    val got = QualityClassifier.train(docs, labels, dim = dim,
                                      iters = iters, lr = lr)
    assert(got.length === w.length)
    got.zip(w).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"coefficient drift: $a vs $b")
    }
    assert(grid6(got) === grid6(w))
  }

  test("Production hash mode (xxhash64 buckets) trains a working " +
       "classifier too — same contracts, different coins") {
    import graft.text.Hashing
    val (docs, labels) = toy()
    val w = QualityClassifier.train(docs, labels, dim = 256, iters = 30,
                                    mode = Hashing.Production)
    val p = QualityClassifier.score(docs, w, mode = Hashing.Production)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 20L).forall(p(_) > 0.5))
    assert((21L to 40L).forall(p(_) < 0.5))
    // the two modes bucket differently, so the models genuinely differ
    val wMd5 = QualityClassifier.train(docs, labels, dim = 256, iters = 30)
    assert(grid6(w) !== grid6(wMd5))
  }

  test("driver-regime train ≡ distributed train on the shared 1e-9 grid") {
    val (docs, labels) = toy()
    val (dim, iters, lr) = (32, 5, 2.0)
    val got = QualityClassifier.train(docs, labels, dim = dim,
                                      iters = iters, lr = lr)
    // rebuild train's triples frame and force the distributed loop
    val lab = labels.select(col("doc_id"), col("y").cast("double").as("y"))
    val feats = QualityClassifier.hashedFeatures(docs, dim = dim)
    val bias = feats.select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(dim).as("bucket"), lit(1.0).as("x"))
    val f = feats.unionByName(bias).join(lab, "doc_id")
      .repartition(col("doc_id"))
    val dst = QualityClassifier.trainDistributed(f, "doc_id", dim,
                                                 iters, lr)
    assert(got.length === dst.length)
    got.zip(dst).foreach { case (a, b) =>
      assert(a === b, s"regime drift: driver $a vs distributed $b")
    }
    spark.catalog.clearCache()
  }

  test("q_quality_classifier reproduces bit-identically from a fresh " +
       "training run (RNG-free GD; the oracle now verifies the model)") {
    val out = SparkEntry.queries("q_quality_classifier")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // recompute through the same path: RNG-free GD ⇒ same model ⇒ same
    // scores (the unrolled-CTE oracle verifies every coefficient
    // end-to-end)
    val docs = Tables.load(spark, sfDir, "documents")
    val labels = docs.select(col("doc_id"),
      (TextOps.qualityScore(col("text")) >= 0.5).cast("double").as("y"))
    val w = QualityClassifier.train(docs, labels, dim = 64, iters = 8)
    val again = QualityClassifier.score(docs, w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === again)
  }

  test("bench corpus: heuristic labels distill into full-coverage scores") {
    val docs = Tables.load(spark, sfDir, "documents")
    val labels = docs.select(col("doc_id"),
      (TextOps.qualityScore(col("text")) >= 0.5).cast("double").as("y"))
    val w = QualityClassifier.train(docs, labels, dim = 64, iters = 4)
    val scored = QualityClassifier.score(docs, w)
    val withToks = docs
      .filter(TextOps.tokenCount(col("text")) > 0).count()
    assert(scored.count() === withToks)
    assert(scored.filter(col("p_good") < 0 || col("p_good") > 1).count()
      === 0L)
  }
}
