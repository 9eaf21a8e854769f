package graft

class EntrySpec extends SparkSpec {

  test("entry smoke: rows > 0 (driver contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and is non-degenerate") {
    // pair-finding queries may legitimately be empty at the tiny sf
    val mayBeEmpty = Set("q_ngram_jaccard", "q_minhash_lsh",
                         "q_simhash_pairs", "q_cosine_pairs",
                         "q_lsh_cosine_pairs",
                         // 4x-fair-share concentration is unreachable with
                         // sf0.001's ~10 suppliers/part (verified 4 rows at
                         // sf0.01, 5 at sf0.1)
                         "q_tpch_q20")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n > 0 || mayBeEmpty(name), s"$name returned no rows")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("board names are distinct; a duplicated name fails the build") {
    val names = SparkEntry.cases.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.size == names.size)
    val twice = SparkEntry.cases.take(2) :+ SparkEntry.cases.head
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(twice))
    assert(e.getMessage.contains(SparkEntry.cases.head.name))
  }

  test("oracle coverage: SQL-expressible ops all have oracles") {
    val noOracle = SparkEntry.cases.filter(_.oracle.isEmpty).map(_.name).toSet
    // intentionally rows-only — after r7's promotions (generated CTE
    // twins for the greedy selections and the whole IVF/PQ/eval family;
    // verified forms for the HLL distincts) ONLY two classes remain:
    // xxhash64-derived values (no DuckDB identity) and LAPACK
    // eigendecompositions, plus the iterative leftmost-greedy BPE merge
    // state, the encoding-dependent file census, and the GD classifier
    // (whose model is checksum-pinned in-query instead)
    val expected = Set(
      // xxhash64 / simhash / MinHash banding internals
      "q_simhash_pairs", "q_fingerprints", "q_ann_topk",
      "q_ann_multiprobe", "q_lsh_cosine_pairs", "q_lsh_eval",
      // (q_pca_embed left this set in r9: sign-invariant squared
      // projections + reconstruction error on the planted spectrum —
      // LAPACK's basis sign never reaches the output)
      // file-census bytes are encoding-dependent
      "q_layout_stats",
      // JDK zlib deflate byte count — no DuckDB identity (CompressSpec
      // pins planted fixtures + codegen ≡ interpreted instead)
      "q_compress_ratio")
    assert(noOracle === expected)
  }
}
