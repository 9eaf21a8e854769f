package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.ShingleExpressions

/** Randomized completeness/soundness property for the prefix-filtered
  * Jaccard join: on seeded corpora of templated documents with random
  * mutations (the worst case for candidate filters — many near-misses
  * straddling τ), the filtered join must equal the brute-force all-pairs
  * truth EXACTLY, ids and jaccard values both. This is the guard for the
  * hand-derived pruning bounds (prefix length, length-ratio, positional):
  * an unsound bound silently drops a true pair; only brute-force
  * comparison can catch it.
  */
class NgramPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Seeded corpus: `nTemplates` base strings; each doc mutates its
    * template by token substitution with per-doc intensity, so pair
    * similarities spread across [0,1] with many near-τ cases.
    */
  private def corpus(seed: Int, nDocs: Int, nTemplates: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    val templates = Vector.fill(nTemplates)(
      Vector.fill(14 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))))
    (0 until nDocs).map { i =>
      val base = templates(rnd.nextInt(nTemplates))
      val intensity = rnd.nextDouble() * 0.5
      val toks = base.map(t =>
        if (rnd.nextDouble() < intensity) vocab(rnd.nextInt(vocab.size)) else t)
      i.toLong -> toks.mkString(" ")
    }
  }

  private def bruteForce(docs: Seq[(Long, String)], n: Int,
                         tau: Double): Set[(Long, Long, Double)] = {
    val df = docs.toDF("doc_id", "text")
      .select($"doc_id", ShingleExpressions.shingleHashes($"text", n).as("hs"))
    val sets = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      sa = sets(a); sb = sets(b)
      if sa.nonEmpty || sb.nonEmpty
      inter = (sa & sb).size
      union = sa.size + sb.size - inter
      j = if (union == 0) 0.0 else inter.toDouble / union
      if j >= tau
    } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
  }

  for ((seed, tau) <- Seq((42, 0.7), (7, 0.5), (2026, 0.8))) {
    test(s"prefix join ≡ brute force on random corpus (seed=$seed, tau=$tau)") {
      val docs = corpus(seed, nDocs = 120, nTemplates = 8)
      val got = DedupOps.ngramJaccardPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", n = 8, tau = tau)
        .select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, j) }.toSet
      val want = bruteForce(docs, n = 8, tau = tau)
      val missed = want.map(t => (t._1, t._2)) -- got.map(t => (t._1, t._2))
      val extra = got.map(t => (t._1, t._2)) -- want.map(t => (t._1, t._2))
      assert(missed.isEmpty, s"filter dropped true pairs: $missed")
      assert(extra.isEmpty, s"verify passed false pairs: $extra")
      assert(got === want, "jaccard values differ")
      // the corpus must actually exercise the join (not vacuous)
      assert(want.nonEmpty, "degenerate corpus: no pairs above tau")
    }
  }

  for ((seed, tau) <- Seq((42, 0.7), (7, 0.5))) {
    test(s"R-S join ≡ brute-force cross pairs (seed=$seed, tau=$tau)") {
      // split the corpus by parity and require the two-sided join to
      // equal exactly the cross-parity subset of the all-pairs truth,
      // reoriented to (even side, odd side)
      val docs = corpus(seed, nDocs = 120, nTemplates = 8)
      val sets = DedupOps.hashedSets(docs.toDF("doc_id", "text"),
                                     "doc_id", "text", n = 8)
      val got = DedupOps.ngramJaccardPairsBetween(
          sets.filter(pmod($"id", lit(2)) === 0),
          sets.filter(pmod($"id", lit(2)) === 1), tau = tau)
        .as[(Long, Long, Double)].collect().toSet
      val want = bruteForce(docs, n = 8, tau = tau)
        .filter { case (a, b, _) => a % 2 != b % 2 }
        .map { case (a, b, j) =>
          if (a % 2 == 0) (a, b, j) else (b, a, j) }
      assert(got === want)
      assert(want.nonEmpty, "degenerate corpus: no cross pairs")
      spark.catalog.clearCache()
    }
  }

  test("R-S join with reused corpus-side freq ≡ exact union-wide freq") {
    // the rolling-crawl shape: the standing corpus's (sh, df) is built
    // once and reused per batch; batch-only shingles rank df=0. The df
    // order is a pruning heuristic — output pairs must be IDENTICAL.
    val docs = corpus(seed = 42, nDocs = 120, nTemplates = 8)
    val sets = DedupOps.hashedSets(docs.toDF("doc_id", "text"),
                                   "doc_id", "text", n = 8)
    val corpusSide = sets.filter(pmod($"id", lit(2)) === 0)
    val batchSide = sets.filter(pmod($"id", lit(2)) === 1)
    val exact = DedupOps.ngramJaccardPairsBetween(
        corpusSide, batchSide, tau = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    val reused = DedupOps.ngramJaccardPairsBetween(
        corpusSide, batchSide, tau = 0.7,
        reuseFreq = Some(DedupOps.shingleFreq(corpusSide)))
      .as[(Long, Long, Double)].collect().toSet
    assert(reused === exact)
    assert(exact.nonEmpty, "degenerate corpus: no cross pairs")
    spark.catalog.clearCache()
  }

  /** Directed containment truth: (a, b, |a∩b|/|a|) for a ≠ b. */
  private def bruteContainment(docs: Seq[(Long, String)], n: Int,
                               tau: Double): Set[(Long, Long, Double)] = {
    val df = docs.toDF("doc_id", "text")
      .select($"doc_id", ShingleExpressions.shingleHashes($"text", n).as("hs"))
    val sets = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a != b
      sa = sets(a); sb = sets(b) if sa.nonEmpty
      c = (sa & sb).size.toDouble / sa.size
      if c >= tau
    } yield (a, b, math.rint(c * 1e6) / 1e6)).toSet
  }

  for ((seed, tau) <- Seq((42, 0.7), (7, 0.5), (2026, 0.9))) {
    test(s"containment self-join ≡ brute force (seed=$seed, tau=$tau)") {
      val docs = corpus(seed, nDocs = 120, nTemplates = 8)
      val got = DedupOps.containmentPairsFromSets(DedupOps.hashedSets(
          docs.toDF("doc_id", "text"), "doc_id", "text", 8), tau)
        .as[(Long, Long, Double)].collect().toSet
      val want = bruteContainment(docs, n = 8, tau = tau)
      val missed = want.map(t => (t._1, t._2)) -- got.map(t => (t._1, t._2))
      assert(missed.isEmpty, s"filter dropped true pairs: $missed")
      assert(got === want)
      assert(want.nonEmpty, "degenerate corpus: no pairs above tau")
      spark.catalog.clearCache()
    }
  }

  test("containment catches the short-doc-quoted-in-long-doc pair Jaccard cannot") {
    // doc 1 is doc 0's 3rd..6th tokens verbatim: C(1→0) = 1.0 while
    // J(0,1) ≈ |1|/|0| sits far below any dedup threshold — the
    // structural blind spot the asymmetric measure exists to cover.
    val long = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "alpha2", "bravo2", "charlie2", "delta2", "echo2").mkString(" ")
    val short = long.split(" ").slice(2, 6).mkString(" ")
    val docs = Seq(0L -> long, 1L -> short)
    val cont = DedupOps.containmentPairsFromSets(DedupOps.hashedSets(
        docs.toDF("doc_id", "text"), "doc_id", "text", 8), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont === Set((1L, 0L, 1.0)),
      s"expected exactly the directed quotee pair, got $cont")
    val jac = DedupOps.ngramJaccardPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", n = 8, tau = 0.3)
      .collect()
    assert(jac.isEmpty, "jaccard at 0.3 should not see the asymmetric pair")
    spark.catalog.clearCache()
  }

  test("R-S containment join ≡ brute-force cross pairs, direction fixed A→B") {
    val docs = corpus(seed = 42, nDocs = 120, nTemplates = 8)
    val sets = DedupOps.hashedSets(docs.toDF("doc_id", "text"),
                                   "doc_id", "text", n = 8)
    val got = DedupOps.containmentJoin(
        sets.filter(pmod($"id", lit(2)) === 0),
        sets.filter(pmod($"id", lit(2)) === 1), tau = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    // contained side A = even ids only; truth restricted to a even, b odd
    val want = bruteContainment(docs, n = 8, tau = 0.6)
      .filter { case (a, b, _) => a % 2 == 0 && b % 2 == 1 }
    assert(got === want)
    assert(want.nonEmpty, "degenerate corpus: no cross pairs")
    spark.catalog.clearCache()
  }

  test("removeContained equals the brute-force greedy-by-size rule on a " +
       "random corpus") {
    val docs = corpus(seed = 42, nDocs = 120, nTemplates = 8)
    val got = DedupOps.removeContained(
        docs.toDF("doc_id", "text"), "doc_id", "text", n = 8, tau = 0.7)
      .select($"doc_id").as[Long].collect().toSet
    val df = docs.toDF("doc_id", "text")
      .select($"doc_id", ShingleExpressions.shingleHashes($"text", 8).as("hs"))
    val sets = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val removed = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a != b
      sa = sets(a); sb = sets(b) if sa.nonEmpty
      if (sa & sb).size.toDouble / sa.size >= 0.7
      if sb.size > sa.size || (sb.size == sa.size && b < a)
    } yield a).toSet
    assert(got === docs.map(_._1).toSet -- removed)
    assert(removed.nonEmpty, "degenerate corpus: nothing removed")
    spark.catalog.clearCache()
  }

  test("removeContained: a chain A⊆B⊆C keeps only C; an exact dup pair " +
       "keeps the lower id; unrelated and null docs survive") {
    val c = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima").mkString(" ")
    val b = c.split(" ").slice(0, 8).mkString(" ")  // ⊆ C
    val a = c.split(" ").slice(2, 6).mkString(" ")  // ⊆ B (and C)
    val docs = Seq(1L -> a, 2L -> b, 3L -> c,
                   4L -> "zulu yankee xray whiskey victor uniform",
                   5L -> "zulu yankee xray whiskey victor uniform",
                   6L -> "totally unrelated content with nothing shared",
                   7L -> null.asInstanceOf[String])
    val got = DedupOps.removeContained(
        docs.toDF("doc_id", "text"), "doc_id", "text", n = 8, tau = 0.9)
      .select($"doc_id").as[Long].collect().toSet
    assert(got === Set(3L, 4L, 6L, 7L))
    spark.catalog.clearCache()
  }

  test("minhash LSH is sound on a random corpus: surfaced ⊆ truth, exact values") {
    val docs = corpus(seed = 13, nDocs = 120, nTemplates = 8)
    val want = bruteForce(docs, n = 8, tau = 0.7)
    val got = DedupOps.minhashLshPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 8, k = 64, bands = 16, tau = 0.7)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // soundness is unconditional (exact verify); every surfaced pair must
    // be a true pair with the true jaccard
    assert((got -- want).isEmpty, s"false positives: ${got -- want}")
    // recall is probabilistic: P(miss) = (1-s^4)^16 < 2% at s = 0.7 —
    // over the handful of true pairs here a miss is possible but multiple
    // misses are vanishingly unlikely; allow at most one
    assert(want.size - got.size <= 1,
      s"LSH recall collapsed: ${want.size} true, ${got.size} surfaced")
  }

  test("verify pins its candidate frame (the AQE exchange-reuse guard)") {
    // AQE materializes its query stages independently and does NOT
    // reuse exchanges whose subtree reads an InMemoryRelation, so a
    // multi-consumer frame that is NOT persisted gets its lineage
    // re-executed once per consumer. verifyPairs feeds the candidate
    // join to five branches; r6 measured the unpinned form re-running
    // it 5x (~60% of q_remove_contained's task time). This guard pins
    // the FIX: the pair join's optimized plan must substitute cached
    // relations for (at least) the hashed sets, the ranked prefix, the
    // candidate frame, and its id union.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = corpus(seed = 7, nDocs = 60, nTemplates = 5)
    val out = DedupOps.ngramJaccardPairs(
      docs.toDF("doc_id", "text"), "doc_id", "text", n = 8, tau = 0.7)
    val cached = out.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r
    }
    assert(cached.size >= 4,
      s"expected >=4 cache substitutions (sets, prefix, cand, candIds); " +
        s"plan has ${cached.size} - a dropped pin re-opens the 5x " +
        "re-execution pathology")
    out.count(): Unit
    spark.catalog.clearCache()
  }
}
