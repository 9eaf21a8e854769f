package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.TextExpressions
import graft.text.TextOps

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("token / punct / stopword counts") {
    val df = Seq("the quick, brown fox; is in a box!").toDF("text")
    val r = df.select(
      TextOps.tokenCount($"text"),
      TextOps.punctCount($"text"),
      TextOps.stopwordCount($"text", TextOps.stopwords("en")))
      .as[(Int, Int, Int)].head()
    assert(r._1 === 8)
    assert(r._2 === 3) // , ; !
    // the, is, in, a  ("box!" has trailing punct so not a stopword token)
    assert(r._3 === 4)
  }

  test("langId picks argmax with en-first tie-break") {
    val df = Seq(
      "the cat and the dog of a house", // en
      "el perro y la casa de los gatos", // es
      "xyzzy plugh").toDF("text") // no stopwords → und
    val got = df.select(TextOps.langId($"text")).as[String].collect()
    assert(got.toSeq === Seq("en", "es", "und"))
  }

  test("shingles: distinct sorted n-grams, short text → empty set") {
    val df = Seq("abcab", "ab").toDF("text")
    val got = df.select(DedupOps.shingles($"text", 3)).as[Seq[String]]
      .collect()
    assert(got(0) === Seq("abc", "bca", "cab"))
    assert(got(1) === Seq.empty)
    // hashed path agrees (and short docs never pair)
    import graft.functions.ShingleExpressions
    val hs = df.select(ShingleExpressions.shingleHashes($"text", 3))
      .as[Seq[Long]].collect()
    assert(hs(0).length === 3 && hs(1).isEmpty)
  }

  test("prefix-filtered jaccard join equals brute force on crafted dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again!"), // ~dup of 1
      (3L, "completely different content with nothing shared here"),
      (4L, "the quick brown fox jumps over the lazy dog again"), // exact dup
      (5L, "short text")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
                                           n = 5, tau = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text",
                                       n = 5, k = 64, bands = 16, tau = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh === pairs)
  }

  test("ngramJaccardPairs length-ratio bound holds at the exact " +
       "J = tau boundary (the FP guard the prefix bound already has)") {
    // |A| = 55 contained in |B| = 100 at tau = 0.55: J = 55/100 = tau
    // exactly, and the unguarded ratio filter a.sz >= tau * b.sz
    // compares 55 >= 55.000000000000007 — false in doubles — silently
    // dropping a true pair the exact-quadratic oracle keeps. The 1e-9
    // guard (shared with every other candidate bound) keeps the filter
    // lossless; verify's exact J >= tau still gates emission.
    val sets = Seq(
      (1L, (1L to 55L).toArray, 55),
      (2L, (1L to 100L).toArray, 100))
      .toDF("id", "hs", "sz")
    val both = DedupOps.ngramJaccardPairsFromSets(sets, tau = 0.55)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(both === Seq((1L, 2L, 0.55)))
    // the two-sided R-S twin shares the bound (and the guard)
    val rs = DedupOps.ngramJaccardPairsBetween(
        sets.filter($"id" === 1L), sets.filter($"id" === 2L), tau = 0.55)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rs === Seq((1L, 2L, 0.55)))
  }

  test("minhashLshPairs maxBucket: hot buckets drop their quadratic, " +
       "sub-cap pairs survive, cap 0 is exact") {
    // a 20-doc boilerplate cluster (identical text → identical
    // signature → ONE width-20 bucket per band) plus one distinct
    // near-dup pair in width-2 buckets
    val boiler = "breaking news site navigation copyright footer text"
    val docs = ((0L until 20L).map(i => (i, boiler)) ++ Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "the quick brown fox jumps over the lazy dog y'day")))
      .toDF("doc_id", "text")
    def run(cap: Long) = DedupOps.minhashLshPairs(docs, "doc_id", "text",
        n = 5, k = 64, bands = 16, tau = 0.5, maxBucket = cap)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exact = run(0L)
    // no cap: the full C(20,2) cluster + the distinct pair
    assert(exact.size === 190 + 1)
    assert(exact.contains((100L, 101L)))
    // cap 10: every cluster bucket is width 20 > 10 in EVERY band, so
    // the cluster's quadratic vanishes; the (100,101) buckets are
    // width ≤ 2 and the pair survives exact-verified
    assert(run(10L) === Set((100L, 101L)))
    // a cap nothing exceeds changes nothing
    assert(run(50L) === exact)
  }

  test("multi-byte shingle hashes equal per-window UTF-8 hashing") {
    // pins the O(len) boundary-table path against a direct per-window
    // recomputation (the path used to re-walk bytes via substringSQL)
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val text = "héllo wörld — 你好世界 café ños"
    val n = 4
    val got = Seq(Tuple1(text)).toDF("text")
      .select(graft.functions.ShingleExpressions
        .shingleHashes($"text", n).as("hs"))
      .head().getSeq[Long](0)
    val expected = text.toCharArray.map(_.toString)
      .sliding(n).map(_.mkString).map { w =>
        val b = w.getBytes("UTF-8")
        XXH64.hashUnsafeBytes(b,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length,
          graft.functions.TextExpressions.Seed)
      }.toSeq.distinct.sorted
    assert(got === expected)
  }

  test("sorted_intersect_count skips null elements instead of crashing") {
    val c = spark.sql(
      "SELECT sorted_intersect_count(array('a', 'b', NULL), array('a', NULL))")
      .head().getInt(0)
    assert(c === 1)
  }

  test("exact-boundary pair (J == tau) survives the prefix at tau=0.8") {
    // Regression for an FP trap: 1.0-0.8 = 0.1999…96, so an unguarded
    // floor((1-τ)·sz) computed a one-short prefix whenever (1-τ)·sz was
    // integral — and a one-short prefix DROPS pairs sitting exactly at
    // J = τ. Here A={v,w,x,y,z}, B={w,x,y,z}: J = 4/5 = 0.8 exactly;
    // 'v' is corpus-unique so it is A's rarest shingle, and with the
    // broken prefix (length 1 instead of 2) A's prefix was {v} alone —
    // no shared shingle, pair silently missing. The filler docs raise
    // df(w..z) and are themselves excluded by the length filter.
    val docs = Seq(
      (1L, "vwxyz"),
      (2L, "wxyz"),
      (3L, "wxyzabcdefghij"),
      (4L, "wxyzklmnopqrst")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
                                           n = 1, tau = 0.8)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 0.8)))
  }

  test("jaccard value is exact: identical docs → 1.0") {
    val docs = Seq((1L, "aaaaabbbbb"), (2L, "aaaaabbbbb"))
      .toDF("doc_id", "text")
    val j = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
      .select($"jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("dedupKeyedFirstRow keeps deterministic survivor") {
    val df = Seq(("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"),
                 ("k2", 9, "z")).toDF("k", "ord", "v")
    val got = DedupOps.dedupKeyedFirstRow(df, Seq("k"), Seq("ord"))
      .select($"k", $"v").as[(String, String)].collect().toMap
    assert(got === Map("k1" -> "a", "k2" -> "z"))
  }

  test("simhash64: near-identical token sets are hamming-close") {
    val df = Seq(
      ("a b c d e f g h i j k l m n o p", "a b c d e f g h i j k l m n o q"),
      ("a b c d e f g h i j k l m n o p", "z y x w v u t s r q p o n m l k")
    ).toDF("t1", "t2")
    val hams = df.select(bit_count(
      TextExpressions.simhash64(TextOps.tokens($"t1")).bitwiseXOR(
        TextExpressions.simhash64(TextOps.tokens($"t2"))))).as[Int].collect()
    assert(hams(0) < hams(1))
    assert(hams(0) <= 16)
  }

  test("rollingHash matches the reference polynomial") {
    def poly(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => 31L * h + b)
    val inputs = Seq("", "a", "hello world", "ü-umlaut")
    val got = inputs.toDF("t")
      .select(TextExpressions.rollingHash($"t")).as[Long].collect()
    assert(got.toSeq === inputs.map(poly))
  }

  test("expressions agree between codegen and interpreted eval") {
    val df = Seq("the quick brown fox", "lorem ipsum dolor").toDF("text")
    val viaCodegen = df
      .select(TextExpressions.simhash64(TextOps.tokens($"text")),
              TextExpressions.rollingHash($"text"))
      .as[(Long, Long)].collect().toSeq
    // force interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df
        .select(TextExpressions.simhash64(TextOps.tokens($"text")),
                TextExpressions.rollingHash($"text"))
        .as[(Long, Long)].collect().toSeq
      assert(interp === viaCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("subword count segments letter/digit/symbol runs") {
    val got = Seq("abc123!x y", "hello").toDF("text")
      .select(TextOps.subwordCount($"text")).as[Int].collect()
    assert(got(0) === 5) // abc, 123, !, x, y
    assert(got(1) === 1)
  }

  test("string-shingle minhash equals hashed-shingle minhash") {
    import graft.functions.ShingleExpressions
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val viaStrings = df.select(
      DedupOps.minhashSignature(DedupOps.shingles($"text", 5), 16))
      .as[Seq[Long]].head()
    val viaHashes = df.select(
      ShingleExpressions.minhashSigFromHashes(
        ShingleExpressions.shingleHashes($"text", 5), 16))
      .as[Seq[Long]].head()
    assert(viaStrings === viaHashes)
  }

  test("chunkDocs: overlapping windows cover every token") {
    val doc = (1 to 95).map(i => s"t$i").mkString(" ")
    val got = TextOps.chunkDocs(Seq((1L, doc)).toDF("doc_id", "text"),
                                "text", chunkTokens = 50, overlap = 10)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"chunk", $"chunk_tokens")
      .as[(Long, String, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(got(0)._3 === 50L) // tokens 1..50
    assert(got(1)._3 === 50L) // tokens 41..90 (10-token overlap)
    assert(got(2)._3 === 15L) // tokens 81..95 tail
    assert(got(0)._2.startsWith("t1 ") && got(1)._2.startsWith("t41 "))
    // short doc → single short chunk
    val short = TextOps.chunkDocs(Seq((2L, "a b c")).toDF("doc_id", "text"),
                                  "text", 50, 10).collect()
    assert(short.length === 1)
    // 45 tokens: a second start at 40 would emit tokens 41-45, a pure
    // subset of chunk 0 (tokens 1-45) — must NOT be emitted
    val doc45 = (1 to 45).map(i => s"t$i").mkString(" ")
    val c45 = TextOps.chunkDocs(Seq((3L, doc45)).toDF("doc_id", "text"),
                                "text", 50, 10).collect()
    assert(c45.length === 1)
  }

  test("exactStats counts distinct fingerprints") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = DedupOps.exactStats(df, "text").as[(Long, Long)].head()
    assert(r === ((3L, 2L)))
  }

  test("lineDedup: cross-doc boilerplate keeps only the global first " +
       "occurrence; below-threshold and intra-doc repeats untouched") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique one\nCOOKIE BANNER"),  // first occ + intra-doc repeat
      (2L, "unique two\nCOOKIE BANNER\nonly here"),      // later occ → cut
      (3L, "COOKIE BANNER\nunique three"),               // later occ → cut
      (4L, "solo line\nsolo line two")                   // nothing duplicated
    ).toDF("doc_id", "text")
    val got = DedupOps.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got(0) === ((1L, 3L, 1L, "COOKIE BANNER\nunique one")))
    assert(got(1) === ((2L, 3L, 1L, "unique two\nonly here")))
    assert(got(2) === ((3L, 2L, 1L, "unique three")))
    assert(got(3) === ((4L, 2L, 0L, "solo line\nsolo line two")))
    // doc 1's intra-doc repeat at pos 2 is cut only because the LINE is
    // cross-doc duplicated (global first = doc 1 pos 0); a line repeated
    // inside ONE doc but nowhere else stays (df counts DISTINCT docs)
    val intra = Seq((1L, "x\nx"), (2L, "y")).toDF("doc_id", "text")
    val keep = DedupOps.lineDedup(intra, "doc_id", "text", minDocs = 2)
      .filter($"doc_id" === 1L).select($"clean_text").as[String].head()
    assert(keep === "x\nx")
  }

  test("lineDedup: blank/whitespace-only lines exempt from the cut; " +
       "minChars widens the exemption to trivial punctuation lines") {
    val docs = Seq(
      (1L, "para one\n\npara two\n \n}"),
      (2L, "para three\n\npara four\n \n}"),
      (3L, "para one\n}")
    ).toDF("doc_id", "text")
    val got = DedupOps.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // the blank and whitespace-only paragraph separators — duplicated in
    // every doc — are NEVER cut; eligible duplicates ("para one", "}")
    // still collapse to their global first occurrence
    assert(got(0) === ((1L, 5L, 0L, "para one\n\npara two\n \n}")))
    assert(got(1) === ((2L, 5L, 1L, "para three\n\npara four\n ")))
    assert(got(2) === ((3L, 2L, 2L, "")))
    // minChars = 2 additionally exempts one-char punctuation lines
    val wide = DedupOps.lineDedup(docs, "doc_id", "text",
                                  minDocs = 2, minChars = 2)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(wide(1) === ((2L, 5L, 0L, "para three\n\npara four\n \n}")))
    assert(wide(2) === ((3L, 2L, 1L, "}")))
  }

  test("dedupLinesWithin: first occurrence kept in order; cross-doc " +
       "repeats untouched; null/empty preserved; kills dupLineFraction") {
    val docs = Seq(
      (1L, "menu\nbody one\nmenu\nfooter\nmenu"),
      (2L, "menu\nbody two"), // cross-doc repeat of "menu": NOT touched here
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupLinesWithin(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Option[Long], Option[Long], Option[String])]
      .collect().toSeq
    assert(got(0) === ((1L, Some(5L), Some(2L),
                        Some("menu\nbody one\nfooter"))))
    assert(got(1) === ((2L, Some(2L), Some(0L), Some("menu\nbody two"))))
    assert(got(2) === ((3L, Some(1L), Some(0L), Some(""))))
    assert(got(3) === ((4L, None, None, None)))
    // the cleaned corpus has zero intra-doc duplicate lines
    val frac = DedupOps.dedupLinesWithin(docs, "doc_id", "text")
      .filter($"clean_text".isNotNull)
      .select(TextOps.dupLineFraction($"clean_text").as("f"))
      .agg(max($"f")).as[Double].head()
    assert(frac === 0.0)
  }

  test("lineDedup and dedupLinesWithin match brute force on random " +
       "corpora (seeded)") {
    for (seed <- Seq(101, 202)) {
      val rnd = new scala.util.Random(seed)
      // small line alphabet → dense cross-doc and intra-doc collisions;
      // ~20% structural (blank/whitespace) lines to exercise the exemption
      def line() = rnd.nextInt(10) match {
        case 0 => ""
        case 1 => " "
        case _ => s"L${rnd.nextInt(8)}"
      }
      val docs = (0L until 40L).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(6))(line()).mkString("\n"))
      }
      val df = docs.toDF("doc_id", "text")

      // brute force lineDedup: global first occurrence per duplicated line
      val all = docs.flatMap { case (id, t) =>
        t.split("\n", -1).zipWithIndex.map { case (l, p) => (id, p, l) } }
      val byLine = all.groupBy(_._3)
      val expect1 = docs.map { case (id, t) =>
        val kept = t.split("\n", -1).zipWithIndex.filter { case (l, p) =>
          val occ = byLine(l)
          l.trim.isEmpty || occ.map(_._1).distinct.size < 2 || {
            val first = occ.minBy(o => (o._1, o._2))
            first._1 == id && first._2 == p
          }
        }.map(_._1)
        (id, kept.mkString("\n"))
      }.toMap
      val got1 = DedupOps.lineDedup(df, "doc_id", "text")
        .select($"doc_id", $"clean_text").as[(Long, String)]
        .collect().toMap
      assert(got1 === expect1, s"lineDedup seed $seed")

      // brute force dedupLinesWithin: per-doc first occurrence
      val expect2 = docs.map { case (id, t) =>
        (id, t.split("\n", -1).distinct.mkString("\n"))
      }.toMap
      val got2 = DedupOps.dedupLinesWithin(df, "doc_id", "text")
        .select($"doc_id", $"clean_text").as[(Long, String)]
        .collect().toMap
      assert(got2 === expect2, s"dedupLinesWithin seed $seed")
    }
  }

  test("lineDedup: fully-boilerplate doc survives empty; null text " +
       "stays null; second pass is a no-op") {
    val docs = Seq(
      (1L, "dup a\ndup b"),
      (2L, "dup a\ndup b"), // every line cut → ""
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs, "doc_id", "text", minDocs = 2)
    val got = out.orderBy($"doc_id")
      .as[(Long, Option[Long], Option[Long], Option[String])]
      .collect().toSeq
    assert(got(0) === ((1L, Some(2L), Some(0L), Some("dup a\ndup b"))))
    assert(got(1) === ((2L, Some(2L), Some(2L), Some(""))))
    assert(got(2) === ((3L, None, None, None)))
    // after one pass every surviving line value occurs at most once
    // corpus-wide, so a second pass removes nothing
    val again = DedupOps.lineDedup(
      out.filter($"clean_text".isNotNull)
        .select($"doc_id", $"clean_text".as("text")),
      "doc_id", "text", minDocs = 2)
    assert(again.agg(sum($"n_removed")).as[Long].head() === 0L)
  }

  test("lshEval: r=1 full recall on exact dups, candidates monotone " +
       "in bands, verified ≡ per-config LSH pairs, 0-truth edge") {
    val base = "the quick brown fox jumps over the lazy dog once more"
    val docs = Seq(
      (1L, base + " alpha"), (2L, base + " alpha"), // exact dup pair
      (3L, "entirely different content about query planners and joins"),
      (4L, "yet another unrelated document body with its own words")
    ).toDF("doc_id", "text")
    val sets = DedupOps.hashedSets(docs, "doc_id", "text", n = 4)
    val k = 16
    val grid = Seq(2, 4, 8, 16)
    val got = DedupOps.lshEval(sets, k, grid, tau = 0.9)
      .orderBy($"bands")
      .as[(Int, Int, Int, Long, Long, Long, Double, Double)]
      .collect()
    assert(got.map(_._2).toSeq === grid)
    assert(got.forall(r => r._3 === k / r._2))
    // truth: exactly the planted dup pair (1,2)
    assert(got.forall(_._6 === 1L))
    // an exact dup has identical signatures: EVERY geometry finds it
    assert(got.forall(r => r._5 === 1L && r._7 === 1.0))
    // candidate volume is monotone non-decreasing in bands
    assert(got.map(_._4).toSeq === got.map(_._4).toSeq.sorted)
    // each config's verified count equals the standalone LSH pair join
    for (b <- Seq(2, 16)) {
      val standalone =
        DedupOps.minhashLshPairsFromSets(sets, k, b, 0.9).count()
      assert(got.find(_._2 === b).get._5 === standalone)
    }
    // a corpus with no pairs at τ: recall/precision report 1.0, not NaN
    val lone = DedupOps.hashedSets(
      Seq((1L, "just one single document here")).toDF("doc_id", "text"),
      "doc_id", "text", n = 4)
    val edge = DedupOps.lshEval(lone, 8, Seq(4), tau = 0.9)
      .as[(Int, Int, Int, Long, Long, Long, Double, Double)].head()
    assert(edge._6 === 0L && edge._7 === 1.0 && edge._8 === 1.0)
  }
}
