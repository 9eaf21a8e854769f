package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.io.Sinks
import graft.similarity.SimilarityOps

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("native cosine expression equals higher-order-function cosine") {
    val diff = emb.limit(50)
      .select(abs(
        VectorExpressions.cosineSim($"embedding", $"embedding") -
          SimilarityOps.cosineHof($"embedding", $"embedding")).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(diff < 1e-12)
    // self-cosine is 1
    val self = emb.limit(5)
      .select(VectorExpressions.cosineSim($"embedding", $"embedding"))
      .as[Double].collect()
    assert(self.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("native lshBucket equals higher-order-function lshBucket") {
    // the native expression must be a pure speedup: bucket ids identical
    // to the HOF formulation for every vector, at two different widths
    Seq(4, 7).foreach { bits =>
      // null-SAFE inequality: a null on either side must count as a
      // mismatch, not vanish from the filter
      val mismatches = emb
        .select(SimilarityOps.lshBucket($"embedding", bits).as("nat"),
                SimilarityOps.lshBucketHof($"embedding", bits).as("hof"))
        .filter(!($"nat" <=> $"hof")).count()
      assert(mismatches === 0L)
    }
    // bucket ids stay inside [0, 2^bits)
    val range = emb.select(SimilarityOps.lshBucket($"embedding", 4).as("b"))
      .agg(min($"b"), max($"b")).as[(Long, Long)].head()
    assert(range._1 >= 0L && range._2 < 16L)
    // a null ELEMENT null-poisons the HOF per-bit aggregates → bucket 0;
    // the native expression must match instead of reading the null slot
    val withNull = Seq(Tuple1(Array[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("v")
    val buckets = withNull.select(
      SimilarityOps.lshBucket($"v", 4).as("nat"),
      SimilarityOps.lshBucketHof($"v", 4).as("hof"))
      .as[(Long, Long)].head()
    assert(buckets._1 === buckets._2)
    assert(buckets._1 === 0L)
    // a NULL vector INPUT is the documented divergence: native is
    // null-in/null-out (no bucket → joins drop the row); the HOF twin's
    // otherwise(0) would claim bucket 0
    val nullVec = Seq(Tuple1(null.asInstanceOf[Array[Float]])).toDF("v")
    val row = nullVec.select(
      SimilarityOps.lshBucket($"v", 4).as("nat"),
      SimilarityOps.lshBucketHof($"v", 4).as("hof")).collect()(0)
    assert(row.isNullAt(0))
    assert(row.getLong(1) === 0L)
  }

  test("dotProduct: orthogonal and aligned vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val got = df.select(VectorExpressions.dotProduct($"a", $"b"))
      .as[Double].collect()
    assert(got(0) === 0.0)
    assert(got(1) === 11.0)
  }

  test("cosine null semantics: length mismatch → null") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val got = df.select(VectorExpressions.cosineSim($"a", $"b"))
      .collect()(0)
    assert(got.isNullAt(0))
  }

  test("brute-force topK is exact vs an independent computation") {
    val local = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect()
    val probe = local.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = local.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v.map(_.toDouble), probe)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
    val got = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSeq
    assert(got.toSet === expected.toSet)
  }

  test("knnJoin with a single query equals topKNeighbors") {
    val single = SimilarityOps.knnJoin(
        emb.filter($"vec_id" === 0L), emb.filter($"vec_id" =!= 0L),
        "vec_id", "embedding", k = 5)
      .select($"neighbor_id".as("vec_id"), $"sim")
      .as[(Long, Double)].collect().toSet
    val probe = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding",
                                            probeId = 0L, k = 5)
      .as[(Long, Double)].collect().toSet
    assert(single === probe)
  }

  test("knnJoin: k rows per query, each query's best is its true argmax") {
    val k = 3
    val got = SimilarityOps.knnJoin(
        emb.filter($"vec_id" < 3L), emb.filter($"vec_id" >= 3L),
        "vec_id", "embedding", k)
      .as[(Long, Long, Double)].collect()
    val byQuery = got.groupBy(_._1)
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach(rows => assert(rows.length === k))
    // per query, returned sims are the k largest (vs brute force)
    val all = emb.filter($"vec_id" >= 3L)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val queries = emb.filter($"vec_id" < 3L)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    queries.foreach { case (qid, qv) =>
      val expect = all.map { case (cid, cv) =>
        (BigDecimal(cos(qv, cv)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, cid)
      }.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toSeq
      val gotIds = byQuery(qid).sortBy(r => (-r._3, r._2)).map(_._2).toSeq
      assert(gotIds === expect, s"query $qid")
    }
  }

  test("ann/ivf return k well-formed results with sims <= brute-force max") {
    val brute = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding", 0L, 1)
      .select($"sim").as[Double].head()
    val ann = SimilarityOps.annTopK(emb, "vec_id", "embedding", 0L, 5, bits = 3)
      .select($"sim").as[Double].collect()
    assert(ann.nonEmpty && ann.forall(_ <= brute + 1e-9))
    val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 4)
    val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents)
    assert(assigned.select($"list_id").distinct().count() <= 4)
    val ivf = SimilarityOps.ivfTopK(assigned, cents, "vec_id", "embedding",
                                    0L, k = 5, nprobe = 2)
      .select($"sim").as[Double].collect()
    assert(ivf.length === 5 && ivf.forall(_ <= brute + 1e-9))
  }

  test("lsh cosine pairs ⊆ brute-force pairs (no false positives)") {
    val brute = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = SimilarityOps.lshCosinePairs(emb, "vec_id", "embedding",
                                           0.4, bits = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    // 4-bit random-hyperplane LSH at cos≥0.4: per-pair survival
    // (1−θ/π)^4 ≈ 0.2 — just assert it finds something when brute does
    if (brute.nonEmpty) assert(lsh.nonEmpty || brute.size < 5)
  }

  test("ivf probe of all lists recovers exact brute-force top-k") {
    val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 4)
    val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents)
    val full = SimilarityOps.ivfTopK(assigned, cents, "vec_id", "embedding",
                                     0L, k = 10, nprobe = 4)
      .select($"vec_id").as[Long].collect().toSet
    val brute = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(full === brute)
  }

  test("saved IVF index round-trips: loaded top-k identical, probe " +
       "scan pruned to the probed list directories") {
    val path = s"${Sinks.scratchRoot}/ivf_index"
    val cents = SimilarityOps.ivfTrain(emb, "vec_id", "embedding",
                                       nlist = 4, iters = 2)
    val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding",
                                             cents)
    val live = SimilarityOps.ivfTopK(assigned, cents, "vec_id",
                                     "embedding", 3L, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    SimilarityOps.saveIndex(assigned, cents, path)
    spark.catalog.clearCache() // release ivfTrain's codebook pin
    val (loadedAssign, loadedCents) = SimilarityOps.loadIndex(spark, path)
    val replayed = SimilarityOps.ivfTopK(loadedAssign, loadedCents,
                                         "vec_id", "embedding", 3L,
                                         k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(replayed === live)
    // the on-disk inverted-list contract: a list_id predicate must reach
    // the scan as a PARTITION filter (directory pruning), not a data one
    val probePlan = loadedAssign.filter($"list_id" === 0)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters") &&
             probePlan.contains("list_id"),
           s"list_id should prune partitions:\n$probePlan")
    // one file per list directory (the repartition-before-write rule)
    val files = new java.io.File(s"$path/lists").listFiles()
      .filter(_.getName.startsWith("list_id="))
    assert(files.length === 4)
    assert(files.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) === 1))
  }

  test("appendIndex: append-then-serve equals rebuild-then-serve for " +
       "the same frozen codebook") {
    val path = s"${Sinks.scratchRoot}/ivf_index_append"
    val old = emb.filter($"vec_id" < 400)
    val fresh = emb.filter($"vec_id" >= 400)
    val cents = SimilarityOps.ivfTrain(old, "vec_id", "embedding",
                                       nlist = 4, iters = 2)
    SimilarityOps.saveIndex(
      SimilarityOps.ivfAssignTo(old, "vec_id", "embedding", cents),
      cents, path)
    // rebuild truth BEFORE the append (same frozen codebook, full data)
    val rebuilt = SimilarityOps.ivfTopK(
        SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents),
        cents, "vec_id", "embedding", 3L, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    spark.catalog.clearCache() // release ivfTrain's codebook pin
    SimilarityOps.appendIndex(fresh, "vec_id", "embedding", path)
    val (lists, cb) = SimilarityOps.loadIndex(spark, path)
    assert(lists.count() === emb.count())
    val served = SimilarityOps.ivfTopK(lists, cb, "vec_id", "embedding",
                                       3L, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(served === rebuilt)
    // retrying the SAME batch is a no-op: already-present ids are
    // anti-joined away, so the count and the serve are unchanged
    SimilarityOps.appendIndex(fresh, "vec_id", "embedding", path)
    val (lists2, cb2) = SimilarityOps.loadIndex(spark, path)
    assert(lists2.count() === emb.count())
    val served2 = SimilarityOps.ivfTopK(lists2, cb2, "vec_id",
                                        "embedding", 3L, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(served2 === rebuilt)
  }

  test("reindex: retrain-and-swap preserves the corpus exactly, serves " +
       "brute-force-equal at nprobe = nlist, cleans its swap dirs, and " +
       "is rerun-stable") {
    val path = s"${Sinks.scratchRoot}/ivf_reindex"
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val cents = SimilarityOps.seedCentroids(base, "vec_id", "embedding", 4)
    SimilarityOps.saveIndex(
      SimilarityOps.ivfAssignTo(base, "vec_id", "embedding", cents),
      cents, path)
    SimilarityOps.appendIndex(batch, "vec_id", "embedding", path)
    SimilarityOps.reindex(spark, path, "vec_id", "embedding",
                          nlist = 4, iters = 2)
    spark.catalog.clearCache() // release ivfTrain's codebook pin
    val (lists, cb) = SimilarityOps.loadIndex(spark, path)
    // the corpus survived the append + rebuild + swap bit-for-bit:
    // exact id set, and the codebook is full-rank
    val ids = lists.select($"vec_id").as[Long].collect().toSet
    assert(ids === emb.select($"vec_id").as[Long].collect().toSet)
    assert(cb.count() === 4L)
    // nprobe = nlist off the rebuilt index ≡ the exact twin — k-means
    // moved only the PRUNING layout, never the served values (the
    // q_reindex oracle contract)
    val served = SimilarityOps.ivfTopK(lists, cb, "vec_id", "embedding",
                                       3L, k = 5, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val brute = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding",
                                            probeId = 3L, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(served === brute)
    // rename–rename–delete left no stage/old residue next to the root
    assert(!new java.io.File(path + "__stage").exists)
    assert(!new java.io.File(path + "__old").exists)
    // reindexing again from the already-retrained state is stable: same
    // id set, same served result (ivfTrain is deterministic given the
    // index contents — seedCentroids takes the lowest ids)
    SimilarityOps.reindex(spark, path, "vec_id", "embedding",
                          nlist = 4, iters = 2)
    spark.catalog.clearCache()
    val (lists2, cb2) = SimilarityOps.loadIndex(spark, path)
    assert(lists2.select($"vec_id").as[Long].collect().toSet === ids)
    val served2 = SimilarityOps.ivfTopK(lists2, cb2, "vec_id", "embedding",
                                        3L, k = 5, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(served2 === brute)
  }

  test("ivfAssignTo: a zero-norm vector lands in list 0, never a phantom list") {
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.0f, 0.0f)) // cosine null against every centroid
    ).toDF("vec_id", "embedding")
    val cents = SimilarityOps.seedCentroids(rows, "vec_id", "embedding", 2)
    val got = SimilarityOps.ivfAssignTo(rows, "vec_id", "embedding", cents)
      .select($"vec_id", $"list_id").as[(Long, Int)].collect().toMap
    assert(got(0L) === 0 && got(1L) === 1)
    assert(got(2L) === 0, "degenerate vector must fall back to list 0")
    assert(got.values.forall(l => l == 0 || l == 1), s"phantom list: $got")
  }

  test("ivfTrain survives a corpus containing an empty embedding") {
    val rows = Seq(
      (0L, Seq(1.0f, 0.2f)), (1L, Seq(0.1f, 1.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq.empty[Float]) // degenerate: parked in list 0, excluded from means
    ).toDF("vec_id", "embedding")
    val cents = SimilarityOps.ivfTrain(rows, "vec_id", "embedding",
                                       nlist = 2, iters = 2)
    assert(cents.count() === 2)
    val assigned = SimilarityOps.ivfAssignTo(rows, "vec_id", "embedding", cents)
      .select($"vec_id", $"list_id").as[(Long, Int)].collect().toMap
    assert(assigned(3L) === 0)
    assert(assigned.size === 4)
    cents.unpersist()
  }

  test("driver-regime ivfTrain ≡ distributed ivfTrain (seeds, argmax, means)") {
    // irregular values + the two degenerate corners (empty vector,
    // zero-norm vector — both must shape the codebook identically in
    // the two regimes: empty excluded from means, zero-norm summed
    // into list 0)
    val rows = ((0L until 30L).map { i =>
      (i, Seq.tabulate(6)(j =>
        (math.cos(i * 7 + j) * (1 + (i % 4))).toFloat))
    } ++ Seq((40L, Seq.empty[Float]),
             (41L, Seq.fill(6)(0.0f)))).toDF("vec_id", "embedding")
    val drv = SimilarityOps.ivfTrain(rows, "vec_id", "embedding",
                                     nlist = 3, iters = 3)
    val dst = SimilarityOps.ivfTrainDistributed(rows, "vec_id",
                                                "embedding", 3, 3)
    def slurp(df: org.apache.spark.sql.DataFrame) = df
      .select($"list_id".cast("int"), $"cvec")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val (a, b) = (slurp(drv), slurp(dst))
    assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
    a.zip(b).foreach { case ((l, va), (_, vb)) =>
      assert(va.size === vb.size, s"list $l dim mismatch")
      va.zip(vb).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-12,
          s"list $l: driver $x vs distributed $y") }
    }
    spark.catalog.clearCache()
  }

  test("ivfTrain: spherical k-means objective is monotone non-decreasing") {
    // objective = mean cosine of each vector to its assigned centroid;
    // assign(max-cosine) + update(mean direction) must not decrease it
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents)
        .join(cents, "list_id")
        .select(VectorExpressions.cosineSim($"embedding", $"cvec").as("c"))
        .agg(avg($"c")).as[Double].head()
    val seeds = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 4)
    val it1 = SimilarityOps.ivfTrain(emb, "vec_id", "embedding", 4, iters = 1)
    val it2 = SimilarityOps.ivfTrain(emb, "vec_id", "embedding", 4, iters = 2)
    val (o0, o1, o2) = (objective(seeds), objective(it1), objective(it2))
    assert(o1 >= o0 - 1e-9)
    assert(o2 >= o1 - 1e-9)
    // the codebook never shrinks: empty clusters carry their previous
    // centroid instead of vanishing
    assert(it2.count() === 4L)
    // trained probe with nprobe = all lists still recovers brute force
    val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", it2)
    val full = SimilarityOps.ivfTopK(assigned, it2, "vec_id", "embedding",
                                     0L, k = 10, nprobe = 4)
      .select($"vec_id").as[Long].collect().toSet
    val brute = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(full === brute)
  }

  test("int8 quantized top-k: high recall vs full precision, probe excluded") {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = SimilarityOps.int8TopK(emb, "vec_id", "embedding", 0L, k = 10)
      .collect()
    assert(q.length === 10)
    assert(!q.exists(_.getLong(0) === 0L))
    // sims arrive sorted descending (rounded; id tie-break)
    val sims = q.map(_.getDouble(1))
    assert(sims.sorted.reverse.sameElements(sims))
    // 8-bit codes shift cosines by O(1/127): ranking is largely preserved
    val full = SimilarityOps.topKNeighbors(emb, "vec_id", "embedding",
                                           0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val overlap = q.map(_.getLong(0)).count(full)
    assert(overlap >= 6, s"int8 recall@10 too low: $overlap/10")
  }

  test("int8 top-k: degenerate zero vector is excluded, codes scale-free") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(0.5f, 0.5f, 0.0f)),
      (1L, Array(5.0f, 5.0f, 0.0f)),   // same direction, 10× magnitude
      (2L, Array(0.0f, 0.0f, 0.0f)),   // degenerate: no direction
      (3L, Array(-0.5f, -0.5f, 0.0f))  // opposed
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.int8TopK(rows, "vec_id", "embedding", 0L, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(2L)) // zero vector has no cosine
    assert(got(1L) === 1.0)   // scale cancels: identical direction → 1.0
    assert(got(3L) === -1.0)
  }

  test("Int8Codes fused expression is bit-identical to the quantizeInt8 path") {
    import spark.implicits._
    // the serving-path fuse must reproduce the interpreted formulation
    // EXACTLY (q_int8_topk's oracle is hash-exact): random vectors incl.
    // negatives and magnitude extremes, plus the degenerate zero/empty
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) *
         math.pow(10, rnd.nextInt(6) - 3).toFloat))
    } ++ Seq((200L, Array.fill(4)(0.0f)), (201L, Array.empty[Float]),
             // non-finite inputs are degenerate → null in BOTH paths
             // (without the shared contract, array_max's NaN-greatest
             // vs a Java > loop would silently diverge)
             (202L, Array(Float.NaN, 1.0f)),
             (203L, Array(Float.PositiveInfinity, 1.0f)),
             (204L, Array(Float.NegativeInfinity, 1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val legacy = SimilarityOps.quantizeInt8(df, "vec_id", "embedding")
      .select($"vec_id",
              transform($"qvec", x => x.cast("double")).as("qd"))
    val fused = df.select($"vec_id",
      graft.functions.VectorExpressions.int8Codes($"embedding").as("qd"))
    val l = legacy.as[(Long, Option[Seq[Double]])].collect().sortBy(_._1)
    val f = fused.as[(Long, Option[Seq[Double]])].collect().sortBy(_._1)
    assert(l === f)
  }

  test("hardNegatives: label filter precedes ranking; equals brute force") {
    // anchor 0 (label 0): its most similar vectors are SAME-label (1, 2)
    // and must be skipped in favor of farther different-label ones
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.0f)),
      (1L, 0, Array(0.99f, 0.1f, 0.0f)),   // same label, very close
      (2L, 0, Array(0.98f, 0.15f, 0.0f)),  // same label, close
      (3L, 1, Array(0.9f, 0.4f, 0.0f)),    // diff label
      (4L, 1, Array(0.5f, 0.85f, 0.0f)),   // diff label, farther
      (5L, 2, Array(0.0f, 1.0f, 0.0f))     // diff label, orthogonal-ish
    ).toDF("vec_id", "label", "embedding")
    val got = SimilarityOps.hardNegatives(
        vecs.filter($"vec_id" === 0L), vecs,
        "vec_id", "embedding", "label", k = 2)
      .as[(Long, Long, Double)].collect().toSeq
    // brute force: diff-label sims to anchor 0 are 3 > 4 > 5
    assert(got.map(_._2) === Seq(3L, 4L))
    assert(got.map(_._1).distinct === Seq(0L))
    assert(got(0)._3 > got(1)._3)
    // full-batch parity with an independent driver-side brute force
    val all = vecs.as[(Long, Int, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val batch = SimilarityOps.hardNegatives(vecs, vecs, "vec_id",
                                            "embedding", "label", k = 2)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    all.foreach { case (aid, al, av) =>
      val expect = all.filter(_._2 != al)
        .map(c => (c._1, cos(av, c._3)))
        .sortBy { case (nid, s) => (-s, nid) }
        .take(2).map(_._1).toSeq
      assert(batch(aid) === expect, s"anchor $aid")
    }
  }

  test("semDeDup: paper keep rule on planted clusters — lowest centroid " +
       "cosine survives; pairless and cross-cluster docs not emitted") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),    // seed → list 0 (centroid)
      (1L, Array(0.0f, 1.0f, 0.0f)),    // seed → list 1 (centroid)
      (2L, Array(0.99f, 0.14f, 0.0f)),  // list 0, ~dup of 0
      (3L, Array(0.98f, 0.199f, 0.0f)), // list 0, ~dup of 0 and 2 (farthest)
      (4L, Array(0.0f, 1.0f, 0.05f)),   // list 1, ~dup of 1
      (5L, Array(0.3f, 0.3f, 0.9f)),    // pairless (off-plane) → not emitted
      (6L, Array(0.72f, 0.69f, 0.0f)),  // list 0 ─┐ cosine ≈ .999 but split
      (7L, Array(0.69f, 0.72f, 0.0f))   // list 1 ─┘ across lists → no pair
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps
      .semDeDup(vecs, "vec_id", "embedding", tau = 0.95, nlist = 2)
      .orderBy($"vec_id")
      .as[(Long, Int, Long, Double, Boolean)].collect().toSeq
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L))
    // component {0,2,3} on list 0: id 3 has the LOWEST centroid cosine
    val c0 = got.filter(_._3 == 0L)
    assert(c0.map(r => r._1 -> r._5).toMap ===
           Map(0L -> false, 2L -> false, 3L -> true))
    assert(c0.map(_._2).distinct === Seq(0))
    // component {1,4} on list 1: id 4 is farther from the centroid
    val c1 = got.filter(_._3 == 1L)
    assert(c1.map(r => r._1 -> r._5).toMap ===
           Map(1L -> false, 4L -> true))
    // centroid sims are the rounded argmax values, descending with
    // distance from the seed
    val sims = got.map(r => r._1 -> r._4).toMap
    assert(sims(0L) === 1.0 && sims(2L) < 1.0 && sims(3L) < sims(2L))
  }

  test("semDeDup with nlist=1 equals the global cosinePairs component " +
       "structure and argmin-centroid election") {
    val tau = 0.45
    val pairs = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", tau)
    val comps = graft.dedup.ConnectedComponents
      .connectedComponents(pairs, "id_a", "id_b", assumeDistinct = true)
      .as[(Long, Long)].collect().toMap
    val got = SimilarityOps
      .semDeDup(emb, "vec_id", "embedding", tau, nlist = 1)
      .as[(Long, Int, Long, Double, Boolean)].collect()
    assert(got.map(r => r._1 -> r._3).toMap === comps)
    assert(got.forall(_._2 == 0))
    // exactly one keeper per component, and it's the argmin by
    // (cent_sim, id)
    got.groupBy(_._3).foreach { case (_, members) =>
      val keeper = members.minBy(r => (r._4, r._1))
      assert(members.count(_._5) === 1)
      assert(members.find(_._5).get._1 === keeper._1)
    }
  }

  test("marginMine equals a driver-side brute-force margin computation") {
    val k = 3
    val a = emb.filter($"vec_id" < 20)
    val b = emb.filter($"vec_id" >= 20 && $"vec_id" < 60)
    val got = SimilarityOps.marginMine(a, b, "vec_id", "embedding",
                                       k = k, tau = 1.0)
      .as[(Long, Long, Double, Double)].collect().toSet
    val vecs = emb.filter($"vec_id" < 60)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val (dx, dy) = (x.map(_.toDouble), y.map(_.toDouble))
      val d = dx.zip(dy).map { case (p, q) => p * q }.sum
      math.rint(d / (math.sqrt(dx.map(v => v * v).sum) *
                     math.sqrt(dy.map(v => v * v).sum)) * 1e6) / 1e6
    }
    val aIds = vecs.keys.filter(_ < 20).toSeq.sorted
    val bIds = vecs.keys.filter(_ >= 20).toSeq.sorted
    def topk(x: Long, side: Seq[Long]): Seq[(Long, Double)] =
      side.map(y => y -> cos(vecs(x), vecs(y)))
        .sortBy { case (y, s) => (-s, y) }.take(k)
    val denA = aIds.map(x => x -> topk(x, bIds).map(_._2).sum / k).toMap
    val denB = bIds.map(y => y -> topk(y, aIds).map(_._2).sum / k).toMap
    val want = (for {
      x <- aIds; (y, s) <- topk(x, bIds)
      m = math.rint(s / ((denA(x) + denB(y)) / 2) * 1e6) / 1e6
      if m >= 1.0
    } yield (x, y, s, m)).toSet
    assert(got === want)
    assert(want.nonEmpty, "degenerate: no pairs above margin 1.0")
  }

  test("margin normalizes by density: an isolated pair beats dense-cluster " +
       "pairs of EQUAL absolute similarity") {
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // A: three vectors inside a dense 0-5° region + one isolated at 90°;
    // B: three at 2-4° + one at 92°. Both the dense pair (0°,2°) and the
    // isolated pair (90°,92°) sit at cos 2° — identical absolute sim —
    // but the dense pair's neighborhoods are saturated (margin ≈ 1)
    // while the isolated pair stands out (margin ≈ 2.8).
    val aSide = Seq(0L -> unit(0), 2L -> unit(1), 4L -> unit(5),
                    6L -> unit(90)).toDF("vec_id", "embedding")
    val bSide = Seq(1L -> unit(2), 3L -> unit(3), 5L -> unit(4),
                    7L -> unit(92)).toDF("vec_id", "embedding")
    val mined = SimilarityOps.marginMine(aSide, bSide, "vec_id",
                                         "embedding", k = 3, tau = 1.5)
      .as[(Long, Long, Double, Double)].collect()
    assert(mined.map(r => (r._1, r._2)).toSet === Set((6L, 7L)),
      s"only the isolated pair should clear margin 1.5, got ${mined.toSeq}")
    assert(mined.head._4 > 2.5 && mined.head._4 < 3.0)
    // the dense pair it out-margins has the SAME rounded absolute sim
    val dense = SimilarityOps.marginMine(aSide, bSide, "vec_id",
                                         "embedding", k = 3, tau = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .find(r => r._1 == 0L && r._2 == 1L).get
    assert(dense._3 === mined.head._3, "absolute sims should tie")
    assert(dense._4 < 1.1, s"dense-pair margin should hug 1, got $dense")
  }

  test("semanticDecontaminate: threshold, lowest-id tie, degenerate skip") {
    def v(xs: Float*) = xs.toArray
    val bench = Seq(
      5L -> v(1f, 0f), 9L -> v(1f, 0f), // identical pair: tie on purpose
      7L -> v(0f, 1f)
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      100L -> v(2f, 0f),    // cos 1.0 vs bench 5 AND 9 -> lowest id wins
      101L -> v(1f, 1f),    // cos ~0.7071 vs all three -> flagged, id 5
      102L -> v(-1f, -1f),  // max cos < 0 -> below tau
      103L -> v(0f, 0f)     // zero-norm: null cosines, never flagged
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps
      .semanticDecontaminate(corpus, bench, "vec_id", "embedding",
                             tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((100L, 5L, 1.0), (101L, 5L, 0.707107)))
  }

  test("semanticDecontaminate is stateless stream-static: stream ≡ batch") {
    val dir = s"${Sinks.scratchRoot}/semdecon_stream"
    val corpus = Seq(100L -> Array(2f, 0f), 102L -> Array(-1f, -1f))
      .toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(dir)
    val bench = Seq(5L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val stream = spark.readStream.schema(corpus.schema).parquet(dir)
    val q = SimilarityOps
      .semanticDecontaminate(stream, bench, "vec_id", "embedding",
                             tau = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("semdecon_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("semdecon_test")
      .as[(Long, Long, Double)].collect().toSet
    val batch = SimilarityOps
      .semanticDecontaminate(corpus, bench, "vec_id", "embedding",
                             tau = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === batch)
    assert(got === Set((100L, 5L, 1.0)))
  }

  test("kCenterSelect: farthest-point order, radii fall, dups stop it") {
    // angles 0 (seed, id 0), ~0 (near-dup of seed), 90, 180 degrees:
    // greedy picks 180 first (cos dist 2.0), then 90 (min-dist 1.0)
    val emb = Seq(
      0L -> Array(1f, 0f), 1L -> Array(0.9999f, 0.0001f),
      2L -> Array(0f, 1f), 3L -> Array(-1f, 0f),
      4L -> Array(0f, 0f) // zero-norm: excluded entirely
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps
      .kCenterSelect(emb, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((0, 0L), (1, 3L), (2, 2L)))
    assert(got.head._3.isEmpty) // seed has no radius
    val radii = got.flatMap(_._3)
    assert(radii === Seq(2.0, 1.0))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })

    // only duplicates left -> selection stops early, no zero-radius picks
    val dups = Seq(0L -> Array(1f, 0f), 1L -> Array(1f, 0f),
                   2L -> Array(2f, 0f)).toDF("vec_id", "embedding")
    val early = SimilarityOps
      .kCenterSelect(dups, "vec_id", "embedding", k = 3)
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(early.map(_._2) === Seq(0L))
  }

  test("hybridTopK RRF fusion equals the recomputed fusion of its legs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val terms = Seq("spark", "vector", "stream")
    val fused = SimilarityOps
      .hybridTopK(docs, emb, terms, probeId = 0L, n = 20, k = 10).collect()
    assert(fused.length === 10)
    // recompute each leg's rank map independently through the leg ops
    val lex = graft.text.TextOps.bm25TopK(docs, terms, k = 20)
      .orderBy($"bm25".desc, $"doc_id".asc).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val sem = SimilarityOps
      .topKNeighbors(emb, "vec_id", "embedding", probeId = 0L, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { id =>
      val raw = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sem.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      val rrf = BigDecimal(raw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, rrf)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(fused.map(r => (r.getLong(0), r.getDouble(3))).toSeq === expected)
    // the surfaced per-leg ranks must be exactly the legs' ranks, with
    // null (not 0 / garbage) for a doc the other leg did not retrieve
    fused.foreach { r =>
      val id = r.getLong(0)
      val lr = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val sr = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lr === lex.get(id), s"lex_rank mismatch for $id")
      assert(sr === sem.get(id), s"sem_rank mismatch for $id")
      assert(lr.isDefined || sr.isDefined)
    }
  }

  test("annTopKMulti: probes=0 ≡ annTopK; ring recall dominates") {
    def ids(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val single = ids(SimilarityOps
      .annTopK(emb, "vec_id", "embedding", probeId = 0L, k = 10, bits = 6))
    val zero = ids(SimilarityOps.annTopKMulti(
      emb, "vec_id", "embedding", probeId = 0L, k = 10, bits = 6,
      probes = 0))
    assert(zero === single) // the ring with no flips IS the single probe
    val multi = ids(SimilarityOps.annTopKMulti(
      emb, "vec_id", "embedding", probeId = 0L, k = 10, bits = 6,
      probes = 6))
    val exact = ids(SimilarityOps
      .topKNeighbors(emb, "vec_id", "embedding", probeId = 0L, k = 10))
    def recall(approx: Seq[(Long, Double)]): Int =
      approx.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    // the candidate pool is a superset, so recall can only improve
    assert(recall(multi) >= recall(single))
    // everything surfaced is exact-scored: each multi sim matches the
    // brute-force sim for that id
    val multiIds = multi.toMap
    exact.foreach { case (id, s) =>
      multiIds.get(id).foreach(ms => assert(ms === s, s"sim drift at $id"))
    }
    // per-rank dominance: the k-th best of a superset pool is >= the
    // k-th best of the subset pool
    multi.zip(single).foreach { case ((_, ms), (_, ss)) =>
      assert(ms >= ss - 1e-9)
    }
  }

  test("mmrRerank: λ=1 is pure relevance; λ=0.5 demotes the near-dup") {
    // probe 0; 1≈2 a near-dup pair at high relevance, 3 diverse — on
    // the OPPOSITE side of the probe from the pair, so its sim to the
    // first pick is well below its relevance (rel−maxsim = +0.082 vs
    // the dup's −0.007; same-side placement would tie everything ≈ 0)
    val toy = Seq(
      0L -> Array(1f, 0f),
      1L -> Array(0.9f, 0.1f),
      2L -> Array(0.9f, 0.11f),
      3L -> Array(0.7f, -0.7f)
    ).toDF("vec_id", "embedding")
    // λ = 1: order and scores are exactly the relevance top-k
    val pure = SimilarityOps
      .mmrRerank(toy, "vec_id", "embedding", probeId = 0L,
                 lambda = 1.0, n = 3, k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1),
                           r.getDouble(2), r.getDouble(3)))
    val rel = SimilarityOps
      .topKNeighbors(toy, "vec_id", "embedding", probeId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pure.map(_._2).toSeq === rel.map(_._1).toSeq)
    assert(pure.map(_._4).toSeq === rel.map(_._2).toSeq) // mmr == rel
    assert(pure.map(_._1).toSeq === Seq(0, 1, 2))
    // λ = 0.5: rank 0 is still the relevance argmax, but its near-dup
    // drops BEHIND the diverse vector
    val mmr = SimilarityOps
      .mmrRerank(toy, "vec_id", "embedding", probeId = 0L,
                 lambda = 0.5, n = 3, k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(mmr.head._2 === rel.head._1)
    val dup = if (rel.head._1 == 1L) 2L else 1L
    assert(mmr(1)._2 === 3L, "diverse vector must outrank the near-dup")
    assert(mmr(2)._2 === dup)
    // determinism: a rerun is bit-identical
    val again = SimilarityOps
      .mmrRerank(toy, "vec_id", "embedding", probeId = 0L,
                 lambda = 0.5, n = 3, k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(again === mmr)
  }
}
