package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (BASELINE.json north-star scope, beyond the reference's own surface):
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  *
  * All are single-pass narrow projections built from codegen'd
  * `functions._` — no UDFs, no shuffles — so they stream through a 100 TB
  * corpus at scan speed and stack inside one WholeStageCodegen span.
  */
object TextOps {

  /** Whitespace tokenizer (the reference's pandas-era ETL had no text ops;
    * this is the extension-scope surface). Empty fragments are filtered:
    * `trim` strips only 0x20 spaces, so a newline/tab-terminated document
    * (ubiquitous in real corpora) would otherwise emit phantom ''
    * tokens — off-by-one n_tokens, a diluted repetition denominator, and
    * a phantom chunk tail. The DuckDB oracle twin is
    * `list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')`.
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Punctuation census over a fixed ASCII class (identical semantics in
    * Java regex and the DuckDB oracle's RE2).
    */
  def punctCount(text: Column): Column = regexp_count(text, lit("[.,!?;:]"))

  /** BPE-ish subword count: alternation of letter-runs, digit-runs, and
    * single ASCII symbols — a deterministic proxy for a real tokenizer's
    * segment count. The symbol class is explicit ASCII punctuation (not
    * `[^...\s]`): a negated class with \s counts surrogate pairs twice in
    * Java regex vs once in RE2 and disagrees on \x0B, breaking the
    * cross-engine identity the oracle relies on.
    */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[!-/:-@\\[-`{-~]"))

  /** Stopword lists for the language-ID heuristic. Deliberately small and
    * public-knowledge; order of `langs` is the deterministic tie-break.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "fr" -> Seq("le", "les", "et", "des", "une", "dans", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))
  val langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")

  /** Count of tokens that appear in `words` (a stopword hit count). */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  def stopwordRatio(text: Column, words: Seq[String]): Column =
    stopwordCount(text, words).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** N-gram-heuristic language ID: argmax of per-language stopword hit
    * counts, ties broken by `langs` order (en first). Pure expression —
    * resolves per-row with no dictionary broadcast needed at this list size.
    */
  def langId(text: Column): Column = {
    val scores = langs.map(l => l -> stopwordCount(text, stopwords(l)))
    scores.foldRight(lit("und")) { case ((l, s), els) =>
      val isMax = scores.collect { case (o, os) if o != l => s >= os }
        .reduce(_ && _)
      when(s > 0 && isMax, l).otherwise(els)
    }
  }

  /** Composite quality score in [0,1]: token-volume saturation, stopword
    * naturalness, punctuation restraint. Fixed weights; arithmetic order
    * identical to the SQL oracle so round(·,6) compares exactly.
    */
  def qualityScore(text: Column): Column = {
    val tokSat = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val stopR = stopwordRatio(text, stopwords("en"))
    val punctR = punctCount(text).cast("double") /
      greatest(charCount(text), lit(1)).cast("double")
    round(tokSat * lit(0.5) + stopR * lit(0.3) +
      (lit(1.0) - least(punctR * lit(10.0), lit(1.0))) * lit(0.2), 6)
  }

  /** Content fingerprint (md5 by default — byte-identical across
    * engines, so exact dedup on it is oracle-checkable; see
    * DedupOps.exactStats). `Hashing.Production` swaps in the 2×xxhash64
    * 128-bit variant with no schema change.
    */
  def fingerprint(text: Column,
                  mode: Hashing.Mode = Hashing.OraclePortable): Column =
    Hashing.fingerprint(text, mode)

  /** Adaptive per-group quality gate: keep documents STRICTLY above
    * their own group's median quality score — the relative gate a mixed
    * corpus needs (a fixed threshold tuned on web text silently deletes
    * all of a low-scoring-but-wanted source, or none of a high-scoring
    * one). Returns survivors with `quality_score` and the group's `med`
    * attached.
    *
    * Scale shape: the per-group median is one aggregate whose output is
    * n_groups rows — genuinely tiny, so the broadcast join back is
    * principled; the gate itself is a narrow filter. The exact `median`
    * (default) keeps the gate oracle-checkable; its aggregation buffer
    * grows with group size, so at extreme per-group cardinalities pass
    * `exact = false`: `percentile_approx(·, 0.5, accuracy)` bounds the
    * buffer at the sketch size (rank error ≤ 1/accuracy, and EXACT
    * whenever a group has ≤ accuracy rows) — identical plan shape, the
    * same broadcast-back, only the aggregate changes (spec-pinned:
    * QualityGateSpec asserts both the plan shape and survivor equality
    * on sub-accuracy groups).
    */
  def adaptiveQualityGate(df: DataFrame, groupCol: String,
                          textCol: String = "text",
                          exact: Boolean = true,
                          accuracy: Int = 10000): DataFrame = {
    val scored = df.withColumn("quality_score", qualityScore(col(textCol)))
    val medAgg =
      if (exact) median(col("quality_score"))
      else percentile_approx(col("quality_score"), lit(0.5), lit(accuracy))
    val med = scored.groupBy(col(groupCol)).agg(medAgg.as("med"))
    scored.join(broadcast(med), Seq(groupCol))
      .filter(col("quality_score") > col("med"))
  }

  /** Gopher-style repetition signal: frequency share of the most-repeated
    * whitespace token. Entirely narrow array expressions — no explode, no
    * shuffle — so gating a 100 TB corpus on repetitiveness stays a scan
    * projection (the exploding formulation would 200× the row count
    * before a double aggregate). Integer/integer division, so the double
    * is bit-identical across engines.
    */
  def topTokenRatio(text: Column): Column = {
    // single O(n log n) pass: sort the tokens, then the max frequency is
    // the longest equal run — the distinct×filter formulation re-scanned
    // the whole array per distinct token (O(d·n), quadratic on long
    // documents, which is where a repetition gate matters most)
    val sorted = array_sort(tokens(text))
    val best = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"),
             lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(acc.getField("prev").isNotNull &&
                         t === acc.getField("prev"),
                       acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
               greatest(acc.getField("best"), run).as("best"))
      }).getField("best")
    // explicit empty guard: 0/0 division semantics differ across engines
    // (Spark yields null, IEEE-mode engines NaN) — make "no tokens" a
    // definite null in both
    when(size(sorted) > 0,
         best.cast("double") / size(sorted).cast("double"))
      .otherwise(lit(null).cast("double"))
  }

  /** Duplicate-line fraction (the other classic repetition gate):
    * 1 − distinct/total over non-empty lines; 0 for documents with no
    * non-empty lines. Same narrow array-only shape as topTokenRatio.
    */
  def dupLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => l =!= lit(""))
    // null text propagates null (matching topTokenRatio) rather than
    // reading as a maximally-clean 0.0; only a real no-content document
    // scores 0
    when(size(lines) > 0,
         lit(1.0) - size(array_distinct(lines)).cast("double") /
           size(lines).cast("double"))
      .when(text.isNotNull, lit(0.0))
  }

  /** PII scrub patterns: deliberately plain character-class regexes with
    * identical semantics in Java regex and RE2 (no lookaround, no \\p
    * classes), so redaction is oracle-checkable cross-engine.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  def piiCount(text: Column): Column =
    (regexp_count(text, lit(EmailRe)) +
      regexp_count(text, lit(PhoneRe))).cast("long")

  /** Redact emails then phone numbers — the pre-training scrub pass.
    * Order is safe: the patterns cannot overlap (an email match cannot
    * contain the phone pattern's word-bounded digit groups and vice
    * versa after replacement).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<email>"),
      PhoneRe, "<phone>")

  /** Vocabulary builder: distinct tokens ranked by corpus frequency with
    * deterministic ids (freq desc, token asc). The corpus-wide count is a
    * partial+final aggregate; the id assignment is a global window ONLY
    * over the vocabulary (distinct tokens ≪ corpus — a few million rows
    * even at 100 TB of text), so the single-partition sort is on the
    * small output, never the data.
    */
  def buildVocab(df: DataFrame, textCol: String = "text",
                 minCount: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
      .withColumn("token_id", row_number().over(
        Window.orderBy(col("freq").desc, col("token").asc)).cast("long"))
  }

  /** Split documents into overlapping token windows (the context-length
    * chunking step before tokenization in a training pipeline). One
    * narrow explode — rows fan out ~|doc|/(chunk−overlap)× with no
    * shuffle, so it streams at scan speed on any corpus size.
    * Output: one row per (doc, chunk_idx) with the chunk's text
    * (whitespace-normalized) and token count.
    */
  def chunkDocs(df: DataFrame, textCol: String, chunkTokens: Int,
                overlap: Int, idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    // null text yields NO chunks. Without the guard the null propagates
    // asymmetrically through the array builders — size(null) is null, so
    // greatest(null−overlap−1, 0) silently becomes 0 and least(null, k)
    // becomes k, emitting a phantom ("", chunkTokens)-row whose
    // chunk_tokens inflate every downstream packing sum, and whose chunk
    // renders "" here but NULL in SQL engines (concat_ws ignores a null
    // array, array_to_string propagates it) — an engine-visible
    // divergence. "No text → no chunks" is the only portable contract.
    // last start must bring NEW tokens beyond the previous chunk's span:
    // starts run while start + overlap < |toks| (a start inside the
    // previous window's tail would emit a chunk fully contained in it,
    // silently duplicating corpus content). greatest(...,0) keeps the
    // mandatory start=0 for docs shorter than overlap.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
              posexplode(sequence(
                lit(0),
                greatest(size(col("__toks")) - overlap - 1, lit(0)),
                lit(step))))
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        concat_ws(" ",
          slice(col("__toks"), col("col") + 1, lit(chunkTokens)))
          .as("chunk"),
        least(size(col("__toks")) - col("col"), lit(chunkTokens))
          .cast("long").as("chunk_tokens"))
  }

  /** Deterministic train/val/test assignment from the content hash: the
    * first hex digit of md5(text) partitions the corpus 14:1:1
    * (≈87.5%/6.25%/6.25%) with no RNG, no state, and full
    * reproducibility across engines and runs — the split a training
    * pipeline can re-derive at any time from the data alone. Hex-digit
    * STRING comparison ('0'..'9' < 'a'..'f') is engine-portable, so the
    * assignment is oracle-checkable.
    */
  def trainSplit(text: Column,
                 mode: Hashing.Mode = Hashing.OraclePortable): Column =
    // a null document must assign to NO split (null), not silently
    // concentrate in the 6.25% test partition — both modes guarantee it
    // (Hashing's null contract)
    Hashing.splitArm(text, mode)

  /** Deterministic assignment to NAMED splits with caller-chosen
    * fractions — `trainSplit`'s generalization (that op's 14:1:1 is a
    * special case: with fractions 14/16, 1/16, 1/16 the two agree
    * BIT-FOR-BIT in md5 mode, spec-pinned — the first hex digit IS the
    * coin's high nibble; in Production mode the two ops draw different
    * xxhash bit ranges and are independent assignments). The coin is the first 4 hex digits of
    * md5(text) as an int in [0, 65536) — 1/65536 granularity, engine-
    * portable (`CAST('0x'||substr(md5(text),1,4) AS INTEGER)` in the
    * oracle); split i owns [floor(65536·cum_{i-1}), floor(65536·cum_i)),
    * with the LAST split as the unconditional catch-all arm so double
    * rounding in the cumulative sum can never orphan the top coin
    * values. Null text → null split (the trainSplit null contract).
    * `Hashing.Production` swaps the coin for pmod(xxhash64, 65536) —
    * same thresholds, different (equally re-derivable) assignment.
    */
  def splitByFractions(text: Column, splits: Seq[(String, Double)],
                       mode: Hashing.Mode = Hashing.OraclePortable)
      : Column = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.map(_._1).distinct.size == splits.size,
            "split names must be distinct")
    require(splits.forall(_._2 > 0), "fractions must be > 0")
    val total = splits.map(_._2).sum
    val coin = mode match {
      case Hashing.OraclePortable =>
        conv(substring(md5(text), 1, 4), 16, 10).cast("int")
      case Hashing.Production =>
        when(text.isNull, lit(null))
          .otherwise(pmod(xxhash64(text), lit(65536L)).cast("int"))
    }
    // integer thresholds computed ONCE driver-side — the oracle embeds
    // the same literals, so engine float arithmetic never decides a doc
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _ / total).tail
      .map(c => math.floor(c * 65536.0).toLong)
    splits.init.zip(bounds.init).foldRight(
      when(coin.isNotNull, splits.last._1)) {
      case (((name, _), b), els) => when(coin < b, name).otherwise(els)
    }
  }

  /** Deterministic sampling coin: first md5 byte of the content as an
    * int in [0,256). RNG-free (re-derivable from data alone, the same
    * property trainSplit leans on) and engine-portable (hex → int is
    * exact in both engines).
    */
  def hashByte(text: Column,
               mode: Hashing.Mode = Hashing.OraclePortable): Column =
    Hashing.hashByte(text, mode)

  /** Corpus mixing: per-group deterministic downsampling to target
    * rates — how a training mix reweights sources (cap the boilerplate
    * crawl, keep all of the rare high-quality slice). A pure filter
    * projection: no shuffle, no RNG state, reproducible across runs,
    * engines, and partitionings; rate 0 removes a source, unlisted
    * groups keep `defaultRate`.
    *
    * Null contract: a null-text row has no coin (md5(null) is null, and
    * null < anything is unknown) and is DROPPED at every rate, including
    * 1.0 — the same "no hash → no assignment" rule trainSplit applies,
    * and exactly what the SQL twin's WHERE does. A pipeline that wants
    * to keep null-text rows must route them around the sampler.
    */
  def mixSample(df: DataFrame, keyCol: String, rates: Map[String, Double],
                defaultRate: Double = 1.0, textCol: String = "text",
                mode: Hashing.Mode = Hashing.OraclePortable): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(keyCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashByte(col(textCol), mode).cast("double") < rate * lit(256.0))
  }

  /** Stratified sample: EXACTLY k rows per group (fewer only when the
    * group is smaller), chosen by md5 coin order — `mixSample`'s
    * rate-based cousin for when the mix spec is a hard per-source
    * budget ("200k docs per domain"), not a fraction. Deterministic,
    * RNG-free, re-derivable from the data alone; the md5-then-id order
    * is a uniform shuffle of each group with a total tie-break.
    *
    * Scale shape: the rank ≤ k filter is on the RAW row_number, so
    * InferWindowGroupLimit bounds every map task's output to k rows
    * per group BEFORE the exchange (spec-asserted) — the shuffle
    * carries O(tasks·k) rows per group, never the group.
    */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       k: Int,
                       mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1 (got $k)")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(Hashing.idCoin(col(idCol), mode).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Sequence packing: assign the (ordered) chunk stream to fixed
    * token-budget bins — the step that turns curated chunks into
    * context-window-sized training rows. A chunk joins the bin its
    * cumulative token START falls in, so bins are contiguous runs in the
    * (deterministic) order and a bin overflows its budget by at most one
    * chunk — the standard concat-then-split packing. The running sum
    * windows on `partitionCol` (e.g. language), NEVER globally: per-key
    * sequential state is the scale contract (a global ORDER BY would
    * single-partition a 100 TB chunk stream).
    */
  def packChunks(chunks: DataFrame, partitionCol: String,
                 orderCols: Seq[String], tokenCol: String,
                 budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(partitionCol))
      .orderBy(orderCols.map(c => col(c).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks.withColumn("bin",
      floor((sum(col(tokenCol)).over(w) - col(tokenCol))
        .cast("double") / lit(budget.toDouble)).cast("long"))
  }

  /** Top-k TF-IDF terms per document — the classic keyword/topic signal
    * a curation pipeline uses for domain tagging and stratified corpus
    * mixing. Plan shape at scale: one token explode (no shuffle), one
    * (doc, term) aggregate and one term aggregate (both partial+final
    * with map-side combine), the corpus size folded in as a broadcast
    * scalar, and the per-doc top-k window partitions on the DOC id —
    * bounded groups (a doc's distinct terms), never a global sort.
    * Scoring is tf · ln(N/df) rounded to 6; ranking uses the ROUNDED
    * score (desc) then the term (asc) so the selected set is
    * deterministic and engine-portable.
    *
    * The (doc, term, tf) frame feeds BOTH the scored stream and the
    * document-frequency aggregate, so it is pinned (evictable
    * MEMORY_AND_DISK) to tokenize the corpus once instead of twice.
    * Deliberately NOT a term-partitioned count window (one pass but
    * whole-group buffering — a stopword's group is most of a 100 TB
    * corpus). CACHE OWNERSHIP: caller releases (clearCache/unpersist),
    * same contract as DedupOps.hashedSets.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
                   col(idCol)) // single-file inputs: spread the explode
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.pin)
    // tf is one row per (doc, term) already — count(*) IS document freq
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") /
          col("df").cast("double")), 6))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tfidf"))
  }

  /** Okapi BM25 relevance of every document to a small query-term set —
    * the retrieval scorer a curation pipeline uses to mine
    * domain-relevant documents out of a bulk corpus (quality-targeted
    * sampling, eval-set sourcing). Lucene's non-negative idf variant:
    * idf = ln(1 + (N − df + ½)/(df + ½)); N and avgdl are taken over
    * documents with ≥1 token (the only engine-portable corpus
    * definition — no separate null/whitespace rule needed on either
    * side).
    *
    * Plan shape at scale: the query-term `isin` filter lands directly on
    * the exploded token stream, so the (doc, term) aggregate — the only
    * wide stage over token rows — shuffles a handful of terms, not the
    * corpus vocabulary; per-doc lengths are a narrow no-explode
    * projection joined by doc id; term dfs and the N/avgdl scalar fold
    * in as broadcasts; the final top-k is orderBy+limit =
    * TakeOrderedAndProject, never a global sort. Per-term weights are
    * rounded to 1e-6 BEFORE the per-doc sum and the sum re-rounded, so
    * the double accumulation (~1e-15 off a 1e-6 grid) collapses to the
    * same grid point in both engines — the ordering (rounded score desc,
    * id asc) is then a deterministic total order.
    */
  def bm25TopK(df: DataFrame, queryTerms: Seq[String],
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1 (got $k)")
    // dl feeds BOTH the N/avgdl scalar and the per-doc join; tf feeds
    // BOTH the score stream and the df aggregate. Pinning each
    // (evictable) halves the corpus scans: 2 passes instead of 4.
    // CACHE OWNERSHIP: caller releases (CacheScope / clearCache), the
    // tfidfTopTerms contract.
    val dl = df.select(col(idCol),
                       tokenCount(col(textCol)).cast("double").as("dl"))
      .filter(col("dl") > 0)
      .transform(graft.CacheScope.pin)
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
                       avg(col("dl")).as("avgdl"))
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .transform(graft.CacheScope.pin)
    // tf is unique per (doc, term) — count(*) IS document frequency
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("w",
        round(col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col(idCol))
      .agg(round(sum(col("w")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** Adjacent lowercased token pairs, one (w1, w2) row per bigram —
    * the shared stream under `lmTrain`/`lmScore`. The zip_with lockstep
    * walk is the q_bigrams formulation (4× over sequence+element_at:
    * higher-order lambdas are interpreted, so per-element index lookups
    * dominate at corpus scale); a null text yields a null pair array and
    * explode drops it, so "no text → no bigrams" needs no extra filter.
    */
  private def bigramPairs(df: DataFrame, textCol: String,
                          keep: Seq[Column]): DataFrame = {
    // NOT spreadSmallScan'd (r11 measurement): tokenize+explode is
    // allocation-bound, and in one local-mode JVM 32 concurrent tasks
    // share the heap — the stage's wall stayed 0.6 s while per-task
    // time inflated ~27× (16.7 s of measured task time for the same
    // work). A multi-executor cluster has separate heaps and a real
    // multi-split scan parallelizes this naturally; locally the fused
    // scan→explode→partial-agg single task IS the cheap plan.
    val toks = tokens(lower(col(textCol)))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
                         (a, b) => struct(a.as("w1"), b.as("w2")))
    df.select(keep :+ explode(pairs).as("__bg"): _*)
      .select(keep :+ col("__bg.w1").as("w1") :+ col("__bg.w2").as("w2"): _*)
  }

  /** Bigram language-model training: the (w1, w2) count table a
    * perplexity-style corpus filter scores against (the CCNet recipe —
    * Wenzek et al. LREC 2020 — trains a small LM on a clean reference
    * corpus and keeps low-perplexity documents of the raw crawl; the
    * n-gram variant is the engine-portable, training-free core of it).
    * One explode + one partial+final aggregate; `minCount` prunes the
    * long tail, which is what bounds the model (and is standard n-gram
    * practice — singleton bigrams carry no estimate anyway).
    */
  def lmTrain(df: DataFrame, textCol: String = "text",
              minCount: Long = 1L): DataFrame =
    bigramPairs(df, textCol, Nil)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)

  /** Score documents against a bigram LM: per-document TOTAL negative
    * log-likelihood under add-α smoothing,
    *   p(w2|w1) = (c12 + α) / (c1 + α·V),
    * with c1 = Σ_w2 c12 (the model's own context totals) and V = the
    * model's distinct-w2 vocabulary. The single formula handles every
    * case — unseen bigram (c12→0), unseen context (c1→0 gives the
    * uniform 1/V) — so no branch can diverge from the SQL twin.
    * Documents with < 2 tokens have no bigrams and drop out; consumers
    * derive the mean / perplexity exponent as nll / n_bigrams.
    *
    * The SUM (not the mean) is deliberate: per-bigram log-probs round
    * to 1e-6 BEFORE summing and the sum re-rounds (the bm25TopK
    * grid-collapse trick), and a sum of grid values sits a half-grid
    * minus ~1e-14 away from every round-half point — stable. A MEAN
    * divides the grid by n_bigrams and CAN land exactly on a .5e-6
    * point, where C-libm-style rounding (DuckDB) and BigDecimal
    * HALF_UP on the binary double (Spark) legitimately disagree —
    * observed as a last-digit flip at sf0.01 before this was changed.
    *
    * Scale shape: the document side is one narrow explode; the model
    * and its two derived frames are vocabulary-bounded (minCount-pruned
    * — broadcast-eligible, AQE decides), and the per-doc aggregate is
    * partial+final on the doc id.
    */
  def lmScore(df: DataFrame, model: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (got $alpha)")
    // the model feeds THREE consumers (the score join, its context
    // totals, its vocabulary scalar) — unpinned, each would re-derive
    // it from raw text: two extra corpus passes. CACHE OWNERSHIP:
    // caller releases (CacheScope / clearCache), the bm25TopK contract.
    val m = model
      .transform(graft.CacheScope.pin)
    val ctx = m.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = m.agg(countDistinct(col("w2")).cast("double").as("v"))
    bigramPairs(df, textCol, Seq(col(idCol)))
      .join(m, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", round(log(
        (coalesce(col("c12"), lit(0L)).cast("double") + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)).cast("double") +
            lit(alpha) * col("v"))), 6))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           round(-sum(col("lp")), 6).as("nll"))
  }

  /** Temperature-weighted mixture resampling: keep group g's documents
    * at rate min(1, N·w_g/n_g) with w_g = n_g^α / Σ_h n_h^α — the
    * multilingual rebalancing rule (mBERT / XLM-R exponential smoothing)
    * that flattens a skewed source distribution toward uniform as α→0
    * while never upsampling past a group's own size (acceptance sampling
    * cannot replicate rows; rate caps at 1). α=1 is the identity mix.
    *
    * Deterministic md5-byte coin (`hashByte`), the mixSample contract:
    * RNG-free, re-derivable, engine-portable; null-text rows have no
    * coin and drop at every rate, null-group rows drop at the rate join.
    * Scale shape: the census is one aggregate with n_groups output rows,
    * the scalar totals fold in as a broadcast, the rate table broadcasts
    * back, and the gate itself is a narrow filter — the corpus shuffles
    * zero bytes. Rates are rounded to 1e-6 BEFORE the coin comparison so
    * libm-vs-JVM `pow` drift cannot flip an accept/reject decision.
    * Output keeps the group's `rate` attached.
    */
  def temperatureMix(df: DataFrame, groupCol: String, alpha: Double,
                     textCol: String = "text"): DataFrame = {
    require(alpha > 0 && alpha <= 1,
      s"alpha must be in (0, 1] (got $alpha)")
    // the census feeds BOTH the scalar totals and the rate table —
    // unpinned, the corpus would aggregate twice. Output is n_groups
    // rows, so the pin is tiny. CACHE OWNERSHIP: caller releases.
    val counts = df
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).cast("double").as("n_g"))
      .transform(graft.CacheScope.pin)
    val tot = counts.agg(sum(col("n_g")).as("n_tot"),
                         sum(pow(col("n_g"), lit(alpha))).as("z"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", round(least(lit(1.0),
        pow(col("n_g"), lit(alpha)) / col("z") *
          col("n_tot") / col("n_g")), 6))
      .select(col(groupCol), col("rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashByte(col(textCol)).cast("double") < col("rate") * lit(256.0))
  }

  /** Hashed unigram+bigram counts as sparse (id, bucket, c) triples —
    * the DSIR feature space (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023: hashed n-gram
    * bag-of-words generative models over 10k buckets; dim here is a
    * parameter). The bucket hash is md5-derived (first 4 hex digits mod
    * dim) rather than Murmur3 so the oracle SQL can reproduce it
    * engine-portably — a production deployment would swap in `hash()`
    * (codegen'd Murmur3) with no other change. One explode + one
    * partial+final aggregate; null text yields no grams.
    */
  private def hashedGrams(df: DataFrame, idCol: String, textCol: String,
                          dim: Int,
                          mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
                           (a, b) => concat_ws(" ", a, b))
    // NOT spreadSmallScan'd: same allocation-bound-explode finding as
    // bigramPairs (r11) — splitting the scan inflated task time ~9×
    // with no wall win in the shared local-mode heap
    df.select(col(idCol), explode(concat(toks, bigrams)).as("__g"))
      .select(col(idCol),
              Hashing.bucket(col("__g"), dim, mode).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).cast("double").as("c"))
  }

  /** DSIR importance weights: score every raw document by how much more
    * likely its hashed-n-gram profile is under the target corpus than
    * under the raw corpus,
    *   logw(d) = Σ_b c_d[b] · ( ln p̂_target[b] − ln p̂_raw[b] ),
    * with Laplace-smoothed bucket probabilities p̂[b] = (c[b]+1)/(T+dim).
    * This is the data-selection recipe behind quality-targeted corpus
    * construction: estimate two cheap bag-of-n-grams models, weight the
    * raw crawl by the likelihood ratio, keep the highest-weight slice.
    *
    * Scale shape: both corpus-level count tables are ≤ dim rows (they
    * broadcast); the totals fold in as a 1-row broadcast; the raw-side
    * triples are persisted once for their two consumers (the corpus
    * counts and the per-doc weight sum — CACHE OWNERSHIP: caller
    * releases, the lmScore contract); the per-doc aggregate is
    * partial+final on the doc id. The corpus text is scanned once per
    * side and never shuffled — only (id, bucket, c) triples move.
    *
    * Per-bucket log-ratios round to the 1e-6 grid BEFORE the weighted
    * sum (integer multiples of grid values stay on the grid — the
    * lmScore stability argument), and the sum re-rounds.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, dim: Int = 1024,
                  idCol: String = "doc_id", textCol: String = "text",
                  mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    require(dim >= 2, s"dim must be >= 2 (got $dim)")
    val rawFeat = hashedGrams(raw, idCol, textCol, dim, mode)
      .transform(graft.CacheScope.pin)
    // cq/cp each feed TWO branches (the totals cross-join and the
    // log-ratio full-outer); unpinned, AQE re-executes their lineage
    // per branch — for cp that is the whole target-side gram hashing,
    // measured as the two largest stages of q_dsir_select. Both
    // aggregates are <= dim rows: pin them.
    val cq = rawFeat.groupBy(col("bucket")).agg(sum(col("c")).as("cq"))
      .transform(graft.CacheScope.pin)
    val cp = hashedGrams(target, idCol, textCol, dim, mode)
      .groupBy(col("bucket")).agg(sum(col("c")).as("cp"))
      .transform(graft.CacheScope.pin)
    val tot = cq.agg(sum(col("cq")).as("tq"))
      .crossJoin(cp.agg(sum(col("cp")).as("tp")))
    val lr = cq.join(cp, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(col("bucket"), round(
        log((coalesce(col("cp"), lit(0.0)) + lit(1.0)) /
              (col("tp") + lit(dim.toDouble))) -
          log((coalesce(col("cq"), lit(0.0)) + lit(1.0)) /
                (col("tq") + lit(dim.toDouble))), 6).as("lr"))
    rawFeat.join(broadcast(lr), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).cast("long").as("n_grams"),
           round(sum(col("c") * col("lr")), 6).as("logw"))
  }

  /** DSIR selection: the k raw documents with the largest importance
    * weight, doc-id tie-broken — the noise-free variant of the paper's
    * Gumbel-top-k resampling (deterministic, re-derivable, and what the
    * oracle can express; the Gumbel perturbation is one extra column if
    * sampling diversity is ever needed). orderBy+limit plans as
    * TakeOrderedAndProject: per-partition k-row heaps, never a global
    * sort.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int,
                 dim: Int = 1024, idCol: String = "doc_id",
                 textCol: String = "text",
                 mode: Hashing.Mode = Hashing.OraclePortable): DataFrame =
    dsirWeights(raw, target, dim, idCol, textCol, mode)
      .orderBy(col("logw").desc, col(idCol))
      .limit(k)

  /** Deterministic global shuffle order for training: position of every
    * document under the seeded permutation rank by (md5(seed|id), id) —
    * the epoch-reshuffle primitive (seed = epoch number gives each epoch
    * an independent, re-derivable order; no RNG state to checkpoint).
    *
    * The naive formulation — `row_number() OVER (ORDER BY key)` — is a
    * single-partition global sort: every row through one task, dead at
    * corpus scale. This one never materializes a global order:
    *   1. project the NARROW (id, key) frame — the document text never
    *      moves;
    *   2. range-partition it by (key, id) — Spark's sampled boundaries,
    *      one narrow exchange;
    *   3. per-partition census → cumulative offsets (a ≤ P-row frame;
    *      its cumsum window is single-partition over P rows, fine);
    *   4. local row_number within each range partition (window keyed by
    *      the stamped partition id — bounded groups) + the broadcast
    *      offset.
    * Global rank ≡ offset + local rank because range partitions tile the
    * (key, id) total order. Consumers join `pos` back by id — a narrow
    * sort-merge at scale — or feed it to packChunks as the bin order.
    *
    * The keyed frame is persisted for its two consumers (census + rank;
    * CACHE OWNERSHIP: caller releases). Output: (idCol, pos), pos ∈
    * [0, n), a bijection — spec-pinned against the naive global-window
    * oracle.
    */
  def shuffleOrder(df: DataFrame, idCol: String = "doc_id",
                   seed: String = "0", partitions: Int = 0,
                   mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame =
    rangeRank(
      df.select(col(idCol),
                Hashing.orderCoin(seed, col(idCol), mode).as("__k")),
      Seq("__k", idCol), "pos", partitions)
      .select(col(idCol), col("pos"))

  /** The no-global-sort rank skeleton, parameterized: 0-based global
    * rank of every row of `narrow` under the ASCENDING lexicographic
    * order of `orderCols` (which must be a strict total order — end
    * with the id). Range-partition by the keys → per-partition census →
    * broadcast cumulative offsets → local row_number; global rank ≡
    * offset + local rank because range partitions tile the key order.
    * Every column of `narrow` survives (plus `posName`); keep `narrow`
    * narrow — this frame rides the range exchange. CACHE OWNERSHIP:
    * internally persisted, caller releases (CacheScope).
    */
  private[text] def rangeRank(narrow: DataFrame, orderCols: Seq[String],
                              posName: String, partitions: Int = 0)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = if (partitions > 0) partitions
            else narrow.sparkSession.conf
                   .get("spark.sql.shuffle.partitions").toInt
    val keys = orderCols.map(col)
    val keyed = narrow
      .repartitionByRange(p, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(graft.CacheScope.pin)
    val offsets = keyed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val w = Window.partitionBy(col("__pid")).orderBy(keys: _*)
    keyed.join(broadcast(offsets), Seq("__pid"))
      .withColumn(posName,
        row_number().over(w).cast("long") + col("__off") - 1L)
      .drop("__pid", "__off")
  }

  /** Curriculum training order (Bengio et al. ICML'09, the
    * easy-to-hard schedule): documents rank easy→hard by `scoreCol`
    * (ascending = easiest first), are cut into `nTiers` equal-count
    * difficulty tiers, and are SHUFFLED within each tier by a seeded
    * deterministic coin — the curriculum consumes tiers in order but
    * must not correlate adjacent batches with the raw score (a
    * straight score sort makes every batch near-identical in
    * difficulty AND leaks dataset order; the within-tier shuffle
    * restores mixing).
    *
    * Two applications of the `rangeRank` skeleton — never a global
    * sort: (1) rank by (score, id) → tier = rank·nTiers div n (integral
    * `div`; the 1-row total broadcasts); (2) rank by (tier, coin, id) →
    * the final position. Output: (idCol, tier ∈ [0, nTiers), pos ∈
    * [0, n) a bijection, tiers contiguous in pos). Oracle-exact
    * (q_curriculum); spec-pinned ≡ the naive two-window twin.
    */
  def curriculumOrder(docs: DataFrame, idCol: String = "doc_id",
                      scoreCol: String = "n_chars", nTiers: Int = 4,
                      seed: String = "0", partitions: Int = 0,
                      mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    require(nTiers >= 1, s"nTiers must be >= 1, got $nTiers")
    val narrow = docs.select(col(idCol), col(scoreCol).as("__s"))
    val ranked = rangeRank(narrow, Seq("__s", idCol), "__rk", partitions)
    val total = ranked.agg(count(lit(1)).as("__n"))
    val tiered = ranked.crossJoin(broadcast(total))
      .withColumn("tier",
        expr(s"(__rk * ${nTiers.toLong}L) div __n").cast("int"))
      .withColumn("__coin", Hashing.orderCoin(seed, col(idCol), mode))
      .select(col(idCol), col("tier"), col("__coin"))
    rangeRank(tiered, Seq("tier", "__coin", idCol), "pos", partitions)
      .select(col(idCol), col("tier"), col("pos"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * IPL'06, the A-ES one-pass scheme): each row draws a deterministic
    * uniform u ∈ (0,1) from the seeded coin and keys itself with
    * u^(1/w); the k LARGEST keys are the sample, and inclusion
    * probabilities match sequential weighted draws without replacement.
    * The training-mix use: sample k documents ∝ quality weight for
    * curation/inspection, re-derivable on any retry — no RNG state, no
    * second pass over weights (the naive alternative — normalize then
    * inverse-CDF — needs a global prefix sum PER DRAW).
    *
    * Scale shape: one narrow projection (id, w, key) then a top-k —
    * orderBy+limit plans as TakeOrderedAndProject (per-partition k-row
    * heaps, never a global sort); the whole op is one scan + one k-row
    * exchange. Mergeable by construction: the same keys select the same
    * sample under any partitioning or incremental union (max-k of
    * max-ks).
    *
    * Portability: u = (first 13 md5 hex digits + 0.5) / 2^52 — +0.5
    * keeps u strictly inside (0,1) so key ∈ (0,1) and w→∞ ⇒ key→1
    * monotonically. The key is rounded to 9 BEFORE selection with the
    * id tie-break (the knnJoin rounded-selection discipline: pow may
    * differ by an ulp across libms; at 1e-9 granularity both engines
    * rank identically) — q_weighted_sample is oracle-exact. Rows with
    * null or non-positive weight are excluded (no mass, no draw).
    * Production mode swaps the coin for pmod(xxhash64, 2^52).
    */
  def weightedSample(df: DataFrame, k: Int, idCol: String = "doc_id",
                     weightCol: String = "n_chars", seed: String = "0",
                     mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val twoTo52 = 4503599627370496.0 // 2^52, exact in double
    val bits = mode match {
      case Hashing.OraclePortable =>
        conv(substring(md5(concat_ws("|", lit(seed),
          col(idCol).cast("string"))), 1, 13), 16, 10).cast("double")
      case Hashing.Production =>
        pmod(xxhash64(lit(seed), col(idCol)),
             lit(4503599627370496L)).cast("double")
    }
    val u = (bits + lit(0.5)) / lit(twoTo52)
    df.select(col(idCol), col(weightCol).cast("double").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("skey",
        round(pow(u, lit(1.0) / col("weight")), 9))
      .orderBy(col("skey").desc, col(idCol))
      .limit(k)
  }

  /** Small-group suppression (k-anonymity hygiene for released
    * censuses): any group of a census frame whose count falls below
    * `k` has its group labels replaced by `__other__` and is rolled up
    * — the standard datacard/datasheet release rule (a (source, lang)
    * cell of 2 documents can identify its members; the rolled-up
    * remainder cannot). The rollup bucket itself may still total < k
    * when little is suppressed — it identifies no individual group, so
    * it ships (the census total is preserved EXACTLY by construction,
    * which a drop-below-k rule would break).
    *
    * One narrow projection + one re-aggregate over the census frame
    * (already tiny — groups, not rows).
    */
  def suppressSmallGroups(census: DataFrame, k: Long,
                          groupCols: Seq[String],
                          nCol: String = "n"): DataFrame = {
    require(k >= 1 && groupCols.nonEmpty)
    val masked = groupCols.foldLeft(census) { (d, c) =>
      d.withColumn(c,
        when(col(nCol) < k, lit("__other__")).otherwise(col(c)))
    }
    masked.groupBy(groupCols.map(col): _*)
      .agg(sum(col(nCol)).cast("long").as(nCol))
  }

  /** PMI collocations — the top-k token pairs by pointwise mutual
    * information over DOC-level co-occurrence (pmi = ln(p(x,y) /
    * p(x)p(y)) with p = document frequency / N): the classic
    * collocation-mining signal (which tokens travel together far more
    * than chance) behind phrase detection and template discovery.
    *
    * Scale notes: tokens deduplicate per doc FIRST (array_distinct
    * inside the scan projection), the pair space is bounded by
    * `minPairCount` (HAVING on the pair census — rare noise pairs never
    * reach the PMI math) and by per-doc distinct-token volume; a corpus
    * with huge per-doc vocabularies should pre-filter by token df (the
    * heavyGrams CMS screen composes here). The self-join keys on the
    * doc id, so shuffle volume is per-doc distinct tokens, not raw
    * token occurrences. PMI is rounded to 6 BEFORE the top-k ordering
    * (cross-libm ln ulps cannot flip the cut; ties break on the pair).
    */
  def pmiCollocations(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", minPairCount: Int = 5,
                      k: Int = 20): DataFrame = {
    val toks = docs
      .select(col(idCol).as("__id"),
              explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .transform(graft.CacheScope.pin)
    val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("__d"))
    val n = toks.agg(countDistinct(col("__id")).as("__n"))
    val pairs = toks.select(col("__id"), col("tok").as("x"))
      .join(toks.select(col("__id"), col("tok").as("y")), "__id")
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
    pairs
      .join(df.select(col("tok").as("x"), col("__d").as("__dx")), "x")
      .join(df.select(col("tok").as("y"), col("__d").as("__dy")), "y")
      .crossJoin(broadcast(n))
      .withColumn("pmi",
        round(log(col("n_pair").cast("double") * col("__n") /
                  (col("__dx") * col("__dy"))), 6))
      .select(col("x"), col("y"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("x").asc, col("y").asc)
      .limit(k)
  }

  /** Per-source score CALIBRATION — map every document's raw quality
    * score to its percentile WITHIN its source (percent_rank), so one
    * global keep-threshold means the same thing for every source. Raw
    * score distributions differ wildly across crawls/domains (a 0.5
    * from a clean-wiki source ≠ a 0.5 from a forum dump); thresholding
    * the raw score silently over-prunes some sources and under-prunes
    * others — the per-source percentile is the standard fix (the
    * FineWeb-style per-dump calibration step).
    *
    * One shuffle keyed by source, one per-source ordered rank — groups
    * bounded per source, no global sort. Ties (equal scores) share a
    * percentile by percent_rank's definition in both engines; the id
    * is NOT a tie-break on purpose (equal quality must calibrate
    * equally or the threshold becomes id-dependent).
    */
  def calibrateScores(docs: DataFrame, scoreCol: Column,
                      idCol: String = "doc_id",
                      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("score"))
    docs
      .select(col(idCol), col(sourceCol), scoreCol.as("score"))
      .filter(col("score").isNotNull)
      .withColumn("pct", round(percent_rank().over(w), 6))
  }

  /** Per-source frequency cap (the C4/Common-Crawl "domain cap" stage:
    * FineWeb and RefinedWeb both bound how much any single domain may
    * contribute, because at web scale a handful of boilerplate-heavy
    * hosts would otherwise dominate the corpus). Keeps at most `cap`
    * documents per source, electing survivors by a seeded deterministic
    * coin with the doc id as tie-break — so the kept subset is a
    * uniform, re-derivable sample: reruns, retries, and incremental
    * batches all agree on who survives.
    *
    * Scale: one shuffle keyed by source. The `rank <= cap` filter over
    * the row_number window is planned by Spark 4 as WindowGroupLimit —
    * a partial per-group limit BELOW the exchange — so each map task
    * ships at most `cap` rows per source, never whole groups (the
    * q_topk_per_group machinery). Skewed mega-sources therefore cost
    * `cap · tasks` shuffle rows, not their full document count.
    */
  def sourceCap(docs: DataFrame, cap: Int, seed: String = "cap",
                idCol: String = "doc_id", sourceCol: String = "source",
                mode: Hashing.Mode = Hashing.OraclePortable): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(Hashing.orderCoin(seed, col(idCol), mode), col(idCol))
    docs.select(col(idCol), col(sourceCol))
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= cap)
  }

  /** The Gopher stopword list (Rae et al. 2021, rule A1.1.2): a document
    * must contain at least two of these to pass the stopword rule.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher repetition-and-format quality rules (Rae et al. 2021,
    * §A1.1.2 — the rule set RedPajama/Dolma ship verbatim): per-document
    * booleans for each rule plus the conjunction. One narrow projection
    * over the scan — every rule is array/regex arithmetic on the text
    * column, no shuffle, no UDF — so the report streams at scan speed.
    *
    * Rules (pass = keep): 50 ≤ word count ≤ 100k; mean word length in
    * [3, 10]; symbol-to-word ratio (# or …) ≤ 0.1; < 90 % of lines
    * bullet-led; < 30 % of lines ellipsis-ended; ≥ 80 % of words contain
    * an alphabetic char; ≥ 2 distinct Gopher stopwords. Null/empty text
    * coalesces every rule to false (no tokens → fails the word-count
    * rule anyway; the oracle mirrors the same nullif/coalesce).
    */
  /** Gopher rule thresholds. Defaults are the published constants (Rae
    * et al. 2021 §A1.1.2); production pipelines tune them per corpus,
    * so they are configuration, not code — and the fuzz harness sweeps
    * them. Ratio cuts sit on coarse decimal grids whose literals parse
    * to identical doubles on both engines; the compared ratios are
    * exact rationals computed identically on both sides, so every
    * boundary decision is portable.
    */
  final case class GopherThresholds(
      minWords: Int = 50, maxWords: Int = 100000,
      wordLenLo: Double = 3.0, wordLenHi: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2)

  def gopherRules(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  t: GopherThresholds = GopherThresholds()): DataFrame = {
    val c = col(textCol)
    val toks = tokens(c)
    val nw = nullif(size(toks).cast("double"), lit(0.0))
    val lines = filter(split(c, "\n"), l => trim(l) =!= lit(""))
    val nl = nullif(size(lines).cast("double"), lit(0.0))
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nw
    val symbolRatio = regexp_count(c, lit("#|\\.\\.\\.")).cast("double") / nw
    val bulletFrac = size(filter(lines,
      l => regexp_like(ltrim(l), lit("^[-*•]")))).cast("double") / nl
    val ellipsisFrac = size(filter(lines,
      l => l.endsWith("..."))).cast("double") / nl
    val alphaFrac = size(filter(toks,
      t => regexp_like(t, lit("[A-Za-z]")))).cast("double") / nw
    val stopHits = size(array_intersect(
      array_distinct(transform(toks, t => lower(t))),
      typedlit(GopherStopwords)))
    def rule(cond: Column): Column = coalesce(cond, lit(false))
    val rs = Seq(
      "r_word_count" -> rule(size(toks).between(t.minWords, t.maxWords)),
      "r_mean_word_len" -> rule(meanLen.between(t.wordLenLo, t.wordLenHi)),
      "r_symbol_ratio" -> rule(symbolRatio <= t.maxSymbolRatio),
      "r_bullet_lines" -> rule(bulletFrac < t.maxBulletFrac),
      "r_ellipsis_lines" -> rule(ellipsisFrac < t.maxEllipsisFrac),
      "r_alpha_words" -> rule(alphaFrac >= t.minAlphaFrac),
      "r_stopwords" -> rule(stopHits >= t.minStopwords))
    df.select(col(idCol) +: rs.map { case (n, e) => e.as(n) } :+
      rs.map(_._2).reduce(_ && _).as("pass"): _*)
  }

  /** Content-safety blocklist gate — the standard curation stage every
    * production corpus pipeline runs alongside the Gopher rules: C4
    * (Raffel et al. 2020, §2.2) drops any page containing a term from a
    * public bad-words list; RefinedWeb (Penedo et al. 2023, §3.1) and
    * FineWeb gate on URL/domain blocklists the same way. Domain gating
    * on a key column is a plain anti-join (the q_anti_join precedent);
    * this op is the TERM gate: per-document census of which blocklisted
    * terms appear, for every input doc.
    *
    * Returns (id, n_hits, hit_terms, blocked): distinct blocklisted
    * terms present (count + comma-joined sorted list — the audit trail
    * reviewers need before a corpus-wide drop), and the gate boolean.
    * Matching is on lowercased whitespace tokens vs lowercased trimmed
    * terms; null/empty text yields (0, "", false).
    *
    * Scale shape (the `contaminationScreened` economics): the blocklist
    * — thousands of terms, a few hundred KB — folds into ONE broadcast
    * row (sorted distinct array), and each doc intersects its distinct
    * token set against it in a single codegen'd narrow projection:
    * zero corpus shuffle, exact string equality (no hash fpp to
    * verify away). For a blocklist too big to broadcast precisely
    * (10⁹ URLs/domains), `blocklistScreened` below is the Bloom path.
    */
  def blocklistGate(df: DataFrame, blocklist: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val termCol = blocklist.columns.head
    val fold = blocklist
      .agg(sort_array(collect_set(lower(trim(col(termCol))))).as("__terms"))
    df.crossJoin(broadcast(fold))
      .select(col(idCol),
              array_sort(array_intersect(
                array_distinct(tokens(lower(col(textCol)))),
                col("__terms"))).as("__hits"))
      .select(col(idCol),
              coalesce(size(col("__hits")), lit(0)).cast("long")
                .as("n_hits"),
              coalesce(array_join(col("__hits"), ","), lit(""))
                .as("hit_terms"),
              coalesce(size(col("__hits")) > 0, lit(false)).as("blocked"))
  }

  /** Bloom-screened twin of `blocklistGate` for a CORPUS-SIZED blocklist
    * (web-scale URL/domain lists: 10⁹ entries = 8 GB of exact hashes vs
    * ~1.2 GB of Bloom bits — the `contaminationScreened` argument,
    * including its `Bloom.MaxWords` serialization ceiling). Two phases:
    * the term set OR-folds into one Bloom bitset row (distributed
    * build), broadcast, and each doc counts token hits against the bits
    * in one codegen'd pass — no false negatives, so hit-free docs are
    * PROVABLY clean and exit with zero shuffle; surviving candidates
    * (blocked docs + fpp) re-join the true term set by string equality,
    * a shuffle bounded by candidate volume, never corpus volume.
    * Result ≡ `blocklistGate` bit-for-bit (spec-pinned).
    */
  def blocklistScreened(df: DataFrame, blocklist: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        bitsPerTerm: Int = 10, k: Int = 7,
                        shards: Int = 1): DataFrame = {
    import graft.functions.BloomExpressions
    val termCol = blocklist.columns.head
    val terms = blocklist
      .select(lower(trim(col(termCol))).as("__term")).distinct()
      .transform(graft.CacheScope.pin)
    // one scalar action sizes the filter; shards > 1 lifts the
    // single-buffer bitset ceiling (the contaminationScreened knob —
    // DedupOps.bloomFold scaladoc)
    val m = math.max(terms.count(), 1L)
    val bloom = graft.dedup.DedupOps.bloomFold(
      terms.select(xxhash64(col("__term")).as("__h")), "__h", m,
      bitsPerTerm, k, shards)
    val tokHashes = transform(array_distinct(tokens(lower(col(textCol)))),
                              t => xxhash64(t))
    val hits =
      if (shards == 1)
        BloomExpressions.bloomHitCount(tokHashes, col("__bloom"), k)
      else
        BloomExpressions.bloomHitCountSharded(tokHashes, col("__bloom"), k)
    val cand = df
      .crossJoin(broadcast(bloom))
      .filter(hits >= 1)
      .select(col(idCol), col(textCol))
    val verified = cand
      .select(col(idCol),
              explode(array_distinct(tokens(lower(col(textCol)))))
                .as("__term"))
      .join(terms, "__term") // exact: kills Bloom fpp AND hash collisions
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
           array_join(sort_array(collect_list(col("__term"))), ",")
             .as("__hits"))
    // hits frame is bounded by blocked-doc volume — broadcast-joinable —
    // so the full-corpus census below shuffles nothing
    df.select(col(idCol))
      .join(broadcast(verified), Seq(idCol), "left_outer")
      .select(col(idCol),
              coalesce(col("__n"), lit(0L)).as("n_hits"),
              coalesce(col("__hits"), lit("")).as("hit_terms"),
              col("__n").isNotNull.as("blocked"))
  }

  /** CCNet perplexity buckets (Wenzek et al. LREC 2020): score every
    * document with the bigram LM, then split each language into
    * head / middle / tail at the language's exact perplexity terciles —
    * the quality tiers CCNet publishes and LLM data recipes sample from.
    *
    * The per-doc perplexity proxy is mean nll (nll / n_bigrams, monotone
    * in true perplexity; left unrounded — both engines divide the same
    * oracle-exact doubles, and IEEE division is bit-deterministic).
    * Tercile thresholds are exact interpolated percentiles per language
    * — an n_langs-row frame broadcast back, so the corpus never
    * shuffles for the split itself. Bucket boundaries are ulp-robust:
    * an interpolated threshold either equals a data point exactly
    * (integer rank or tied neighbors) or falls strictly inside a gap
    * containing no data, so engine-side interpolation drift cannot flip
    * any document's bucket. Exact percentile buffers the group — the
    * `adaptiveQualityGate(exact=false)` percentile_approx swap is the
    * documented extreme-group variant.
    */
  def perplexityBuckets(df: DataFrame, model: DataFrame,
                        langCol: String = "lang", idCol: String = "doc_id",
                        textCol: String = "text", exact: Boolean = true,
                        accuracy: Int = 10000): DataFrame = {
    val scored = lmScore(df, model, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("ppl", col("nll") / col("n_bigrams"))
    // exact percentile buffers each language group; at extreme per-lang
    // cardinalities pass exact = false for the percentile_approx sketch
    // (buffer bounded at the sketch size; EXACT whenever a group has
    // ≤ accuracy rows) — the adaptiveQualityGate swap, same plan shape
    def cut(f: Double) =
      if (exact) percentile(col("ppl"), lit(f))
      else percentile_approx(col("ppl"), lit(f), lit(accuracy))
    val cuts = scored.groupBy(col(langCol))
      .agg(cut(1.0 / 3).as("t1"), cut(2.0 / 3).as("t2"))
    scored.join(broadcast(cuts), Seq(langCol))
      .select(col(idCol), col(langCol), col("ppl"),
              when(col("ppl") <= col("t1"), "head")
                .when(col("ppl") <= col("t2"), "middle")
                .otherwise("tail").as("bucket"))
  }

  /** Token-budget corpus sampling: walk the seeded shuffle order and
    * keep documents while the running token total stays within budget —
    * "give me exactly ~N tokens of shuffled corpus", the standard way a
    * training run pins its data size. Emits (id, pos, n_tokens,
    * cum_tokens ≤ budget).
    *
    * The running total is a GLOBAL prefix sum, computed the same way
    * shuffleOrder assembles its global rank — the naive window cumsum is
    * a single-partition sort: range-partition the narrow (id, key, n)
    * frame, local cumsum per partition, add the broadcast per-partition
    * totals. Integer arithmetic end-to-end, so the oracle is exact by
    * construction. The keyed frame persists for its two consumers
    * (census + cumsum; CACHE OWNERSHIP: caller releases).
    */
  def tokenBudget(df: DataFrame, budget: Long, seed: String = "0",
                  idCol: String = "doc_id", textCol: String = "text",
                  partitions: Int = 0,
                  mode: Hashing.Mode = Hashing.OraclePortable): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be >= 0 (got $budget)")
    val p = if (partitions > 0) partitions
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df
      .select(col(idCol),
              Hashing.orderCoin(seed, col(idCol), mode).as("__k"),
              greatest(tokenCount(col(textCol)), lit(0)).cast("long")
                .as("n_tokens"))
      .repartitionByRange(p, col("__k"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.CacheScope.pin)
    val offsets = keyed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"), sum(col("n_tokens")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__toff", coalesce(sum(col("__t")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"), col("__toff"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__k"), col(idCol))
    keyed.join(broadcast(offsets), Seq("__pid"))
      .withColumn("pos",
        row_number().over(w).cast("long") + col("__off") - 1L)
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)) + col("__toff"))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("pos"), col("n_tokens"), col("cum_tokens"))
  }

  /** Length-bucketed batching — the dynamic-batching layout trick
    * (pack sequences of SIMILAR length into each fixed-size batch so
    * padding-to-batch-max wastes almost nothing; random batching at a
    * skewed length distribution can waste half the FLOPs). Global rank
    * by (token length, id) → batch = rank div batchSize → per-batch
    * padding report (what the layout saved is visible, not asserted).
    *
    * The rank reuses tokenBudget's no-global-sort skeleton: range
    * partition by (length, id), local row_number, broadcast
    * per-partition census offsets — the naive single-partition window
    * is exactly what this avoids. Output is one row per BATCH
    * (corpus/batchSize rows), never per sequence.
    */
  def lengthBatches(df: DataFrame, batchSize: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"batchSize must be >= 1 (got $batchSize)")
    val p = if (partitions > 0) partitions
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df
      .select(col(idCol),
              greatest(tokenCount(col(textCol)), lit(0)).cast("long")
                .as("n_tokens"))
      .repartitionByRange(p, col("n_tokens"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.CacheScope.pin)
    val offsets = keyed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("n_tokens"), col(idCol))
    keyed.join(broadcast(offsets), Seq("__pid"))
      .withColumn("__pos",
        row_number().over(w).cast("long") + col("__off") - 1L)
      // integral div (shardAssign discipline: / is double division)
      .withColumn("batch_id", expr(s"__pos div $batchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"),
           min(col("n_tokens")).as("min_tokens"),
           max(col("n_tokens")).as("max_tokens"),
           sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padding_frac",
        when(col("max_tokens") === 0L, lit(0.0))
          .otherwise(round(lit(1.0) -
            col("sum_tokens").cast("double") /
              (col("max_tokens") * col("n_seqs")), 6)))
  }

  /** Data-recipe execution: give each source its share of a token
    * budget and keep documents along each source's seeded shuffle order
    * until that share is spent — the "N% web, M% code, K% books" recipe
    * step every LLM training run pins its mixture with. Sources absent
    * from the recipe are dropped; per-source budgets are
    * round(budget · w_g / Σw) computed driver-side (round, not floor, so
    * an ulp of weight-sum drift cannot move a boundary).
    *
    * The per-group running total generalizes tokenBudget's global prefix
    * sum: range-partition the narrow (group, key, id, n) frame by
    * (group, key, id) — each group tiles a contiguous partition span —
    * then local per-(partition, group) cumsums plus broadcast
    * per-(partition, group) census offsets reassemble every group's
    * exact prefix sums. Integer arithmetic end-to-end; the census frame
    * is ≤ P·G rows and its cumsum windows partition by group (bounded).
    * The keyed frame persists for its two consumers (CACHE OWNERSHIP:
    * caller releases). Output: (id, group, pos_g, n_tokens, cum_tokens).
    */
  def recipeMix(df: DataFrame, weights: Map[String, Double], budget: Long,
                groupCol: String = "source", seed: String = "0",
                idCol: String = "doc_id", textCol: String = "text",
                partitions: Int = 0,
                mode: Hashing.Mode = Hashing.OraclePortable): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(weights.nonEmpty, "recipe must name at least one group")
    require(weights.values.forall(_ > 0), "recipe weights must be > 0")
    require(budget >= 0, s"budget must be >= 0 (got $budget)")
    val spark = df.sparkSession
    import spark.implicits._
    val wsum = weights.values.sum
    val budgets = weights.toSeq
      .map { case (g, w) => (g, math.round(budget * w / wsum)) }
      .toDF(groupCol, "budget_g")
    val p = if (partitions > 0) partitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df
      .filter(col(groupCol).isin(weights.keys.toSeq: _*))
      .select(col(groupCol), col(idCol),
              Hashing.orderCoin(seed, col(idCol), mode).as("__k"),
              greatest(tokenCount(col(textCol)), lit(0)).cast("long")
                .as("n_tokens"))
      .repartitionByRange(p, col(groupCol), col("__k"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.CacheScope.pin)
    val grpW = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__pid"), col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(col("n_tokens")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__n")).over(grpW), lit(0L)))
      .withColumn("__toff", coalesce(sum(col("__t")).over(grpW), lit(0L)))
      .select(col("__pid"), col(groupCol), col("__off"), col("__toff"))
    val w = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(col("__k"), col(idCol))
    keyed.join(broadcast(offsets), Seq("__pid", groupCol))
      .withColumn("pos_g",
        row_number().over(w).cast("long") + col("__off") - 1L)
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)) + col("__toff"))
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("cum_tokens") <= col("budget_g"))
      .select(col(idCol), col(groupCol), col("pos_g"), col("n_tokens"),
              col("cum_tokens"))
  }

  /** Balanced shard assignment: split the seeded shuffle order into
    * nShards contiguous runs of ~equal TOKEN mass — the final layout
    * step before training ("write 1024 shards a loader can stream
    * round-robin"). Shard of a document = floor(cum_before · n / total),
    * clamped to n−1: token-mass boundaries, so shard sizes differ by at
    * most one document's tokens regardless of document-length skew
    * (doc-count striping would let a few long documents unbalance
    * shards). All-Long arithmetic — cum·n at 100 TB-scale token counts
    * (~1e14) times practical shard counts stays far inside Long range —
    * so the oracle is exact by construction.
    *
    * Rides the tokenBudget prefix-sum skeleton (range partitions +
    * broadcast census offsets; the corpus text never moves) plus one
    * 1-row total broadcast. Output: (id, shard, n_tokens). Feed to
    * `Sinks.writePartitioned(..., "shard", path)` for the on-disk
    * layout; a shard is a planning-time partition dir for any
    * downstream reader.
    */
  def shardAssign(df: DataFrame, nShards: Int, seed: String = "0",
                  idCol: String = "doc_id", textCol: String = "text",
                  partitions: Int = 0,
                  mode: Hashing.Mode = Hashing.OraclePortable): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val p = if (partitions > 0) partitions
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df
      .select(col(idCol),
              Hashing.orderCoin(seed, col(idCol), mode).as("__k"),
              greatest(tokenCount(col(textCol)), lit(0)).cast("long")
                .as("n_tokens"))
      .repartitionByRange(p, col("__k"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.CacheScope.pin)
    val offsets = keyed.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__toff", coalesce(sum(col("__t")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__toff"))
    val total = keyed.agg(sum(col("n_tokens")).as("__total"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__k"), col(idCol))
    keyed.join(broadcast(offsets), Seq("__pid"))
      .crossJoin(broadcast(total))
      .withColumn("__cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("__toff"))
      // `div`, not `/`: Spark's / is always double division, and a
      // floor(double) round-trip loses exactness past 2^53 — integral
      // long division is what keeps the boundary oracle-exact at scale.
      // The zero-total case (every doc tokenless) must be guarded by a
      // BRANCH, not a coalesce: under Spark 4's default ANSI mode
      // `div 0` throws DIVIDE_BY_ZERO before a null ever reaches the
      // coalesce — CaseWhen's per-row lazy branches are what keep the
      // division unevaluated
      .withColumn("shard",
        when(col("__total") > 0, least(
          expr(s"(__cum_before * ${nShards.toLong}L) div __total"),
          lit(nShards.toLong - 1)))
        .otherwise(lit(0L)))
      .select(col(idCol), col("shard"), col("n_tokens"))
  }

  /** All text stats in one projection (one scan pass). */
  def withTextStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_chars_calc", charCount(c).cast("long"))
      .withColumn("n_tokens", tokenCount(c).cast("long"))
      .withColumn("n_subwords", subwordCount(c).cast("long"))
      .withColumn("n_punct", punctCount(c).cast("long"))
      .withColumn("n_stopwords",
        stopwordCount(c, stopwords("en")).cast("long"))
      .withColumn("fingerprint", fingerprint(c))
  }

  /** Per-source corpus DATACARD — the datasheet row a data team ships
    * with a training corpus (Gebru et al. 2021 "Datasheets for
    * Datasets"): volume (docs/tokens/chars), exact-duplicate mass,
    * language mix, and the token-length median, one row per source.
    *
    * Shape at scale: one narrow projection (token count, length, md5 —
    * all scan-speed) into one groupBy(source) carrying count-distinct
    * and an exact median — the only wide state is per-source (n_sources
    * rows). The dominant-language census is a second pruned scan
    * (source+lang columns only) whose window ranks n_sources·n_langs
    * rows, never documents; the two scan branches differ in grouping so
    * exchange reuse cannot merge them — two pruned passes is the honest
    * cost of this report. Nullable langs rank NULLS LAST (both engines)
    * so a null tie can't diverge.
    */
  def dataCard(docs: DataFrame, sourceCol: String = "source",
               textCol: String = "text",
               langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col(sourceCol), col(langCol),
      tokenCount(col(textCol)).cast("long").as("__tok"),
      charCount(col(textCol)).cast("long").as("__chars"),
      fingerprint(col(textCol)).as("__fp"))
    val agg = base.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__tok")).as("n_tokens"),
      (count(lit(1)) - countDistinct(col("__fp"))).as("dup_docs"),
      countDistinct(col(langCol)).as("n_langs"),
      round(avg(col("__chars")), 6).as("avg_chars"),
      round(median(col("__tok")), 6).as("med_tokens"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("__n").desc, col(langCol).asc_nulls_last)
    // census from the SAME projection as the aggregate for consistency;
    // physically it still plans its own pruned (source, lang) scan —
    // the docstring's "two pruned passes" is the honest cost
    val top = base.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(sourceCol), col(langCol).as("top_lang"))
    agg.join(top, Seq(sourceCol))
  }

  /** Corpus SNAPSHOT DIFF — the day-2 "what changed between crawl v1
    * and v2" report. Keyed by doc id; a doc present in both snapshots
    * counts as `changed` when its content fingerprint differs
    * (null-safe: two null texts are `unchanged`), else `unchanged`;
    * ids only in the new snapshot are `added`, only in the old are
    * `removed`. One row per (source, status): doc count and the signed
    * character-mass delta (added/changed gain new chars, removed/
    * changed lose old chars).
    *
    * Shape at scale: each side reduces to a narrow (id, source, fp,
    * chars) projection at scan speed — document text never rides the
    * join — then ONE full-outer sort-merge join on the id and a
    * per-(source, status) aggregate with map-side combine. Sources
    * come from the surviving side (new wins for `changed` — a doc that
    * moved sources reports under its new home).
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 sourceCol: String = "source",
                 mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    def narrow(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as(s"${tag}_id"),
                col(sourceCol).as(s"${tag}_src"),
                Hashing.fingerprint(col(textCol), mode).as(s"${tag}_fp"),
                coalesce(charCount(col(textCol)).cast("long"), lit(0L))
                  .as(s"${tag}_chars"))
    val joined = narrow(oldSnap, "o")
      .join(narrow(newSnap, "n"), col("o_id") === col("n_id"),
            "full_outer")
    joined
      .withColumn("status",
        when(col("o_id").isNull, lit("added"))
          .when(col("n_id").isNull, lit("removed"))
          .when(not(col("o_fp") <=> col("n_fp")), lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn("__src", coalesce(col("n_src"), col("o_src")))
      .groupBy(col("__src").as(sourceCol), col("status"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("n_chars"), lit(0L)) -
               coalesce(col("o_chars"), lit(0L))).as("char_delta"))
  }

  /** Cross-source duplication matrix — which sources copy each other
    * (mirror detection, the step before sourceCap/dedup policy): for
    * every source pair (src_a < src_b), the number of DISTINCT content
    * fingerprints present in BOTH, and how many docs of each side carry
    * those shared fingerprints. Null-text docs have no fingerprint and
    * are excluded (no content, no duplication evidence).
    *
    * Shape at scale: documents reduce to distinct (fp, source) pairs
    * (16-byte hashes — one aggregate with map-side combine), the
    * self-join runs on the fp key (shared fps ≪ corpus), and per-side
    * doc counts join back as source-level partial aggregates. Nothing
    * document-sized is ever shuffled.
    */
  def crossSourceDup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     sourceCol: String = "source",
                     mode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    val fps = docs
      .select(Hashing.fingerprint(col(textCol), mode).as("__fp"),
              col(sourceCol).as("__src"))
      .filter(col("__fp").isNotNull)
      .groupBy(col("__fp"), col("__src"))
      .agg(count(lit(1)).as("__n"))
    fps.select(col("__fp"), col("__src").as("src_a"),
               col("__n").as("__na"))
      .join(fps.select(col("__fp"), col("__src").as("src_b"),
                       col("__n").as("__nb")), "__fp")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_fps"),
           sum(col("__na")).as("docs_a"),
           sum(col("__nb")).as("docs_b"))
  }

  /** Markup stripping — the WET-extraction step every web-corpus
    * pipeline runs before any text gate (C4 strips tags before its
    * heuristics; CommonCrawl's WET files are exactly this transform of
    * WARC HTML). Deterministic lexical pass, deliberately NOT a DOM
    * parse (a 100 TB crawl has unparseable tag soup; the lexical rule
    * is total): drop `<...>` runs (replaced by a space so token
    * boundaries survive `<p>a</p><p>b</p>`), decode the five standard
    * HTML entities — `&amp;` LAST so `&amp;lt;` decodes to the literal
    * `&lt;` and not `<` (single-pass, no double-decode) — then collapse
    * whitespace runs and trim. Null text stays null.
    *
    * Scale shape: one narrow codegen'd projection, zero shuffles; the
    * regex class is spelled `[ \t\n\x0B\f\r]+` (not `\s`) because Java
    * and RE2 disagree on `\s`'s membership — the oracle must run the
    * byte-identical rule.
    */
  def stripMarkup(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val noTags = regexp_replace(col(textCol), "<[^>]*>", " ")
    val decoded = replace(
      replace(
        replace(
          replace(
            replace(noTags, lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    val clean = trim(regexp_replace(decoded, "[ \\t\\n\\x0B\\f\\r]+", " "))
    df.select(col(idCol), clean.as("clean_text"),
              (length(col(textCol)) - length(clean)).cast("long")
                .as("chars_removed"))
  }

  /** Encoding-sanity census + gate — the mojibake filter a crawl
    * pipeline runs right after extraction (UTF-8 decoded as Latin-1,
    * truncated multi-byte sequences, and binary junk all survive into
    * `text` as replacement chars / control bytes / `Ã©`-style digraph
    * artifacts). Per doc: U+FFFD replacement-char count, C0/C1 control
    * chars excluding \t \n \r, literal-substring hits over the
    * mojibake `markers` (the classic UTF-8-as-Latin-1 digraphs by
    * default — a HEURISTIC screen, tune markers per corpus), and
    * `encoding_ok` = all three zero. Null text → null counts and null
    * gate (a gate filter drops it, matching the other quality gates).
    *
    * All three counts are length-difference arithmetic on literal
    * `replace`s plus one character-class regexp strip — a single
    * zero-shuffle codegen'd projection, engine-portable exactly
    * (char-counting `length` on both sides, no locale dependence).
    */
  /** Default mojibake markers: the classic UTF-8-as-Latin-1 digraphs. */
  val DefaultMojiMarkers: Seq[String] =
    Seq("\u00C3\u00A9", "\u00C3\u00A8", "\u00C3\u00BC",
        "\u00C3\u00A4", "\u00E2\u20AC")

  /** (n_fffd, n_ctrl, n_moji) column builders over a text column \u2014
    * shared by `encodingGate` and the composed `extractionPipeline` so
    * the pipeline stays one projection instead of a join per gate.
    */
  private def encodingCounts(t: Column, markers: Seq[String])
      : (Column, Column, Column) = {
    def hits(m: String): Column =
      ((length(t) - length(replace(t, lit(m), lit("")))) / m.length)
        .cast("long")
    val nFffd = (length(t) - length(replace(t, lit("\uFFFD"), lit(""))))
      .cast("long")
    val nCtrl = (length(t) - length(regexp_replace(
      t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))).cast("long")
    (nFffd, nCtrl, markers.map(hits).reduce(_ + _))
  }

  def encodingGate(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   markers: Seq[String] = DefaultMojiMarkers): DataFrame = {
    require(markers.nonEmpty && markers.forall(_.nonEmpty),
            "markers must be non-empty strings")
    val (nFffd, nCtrl, nMoji) = encodingCounts(col(textCol), markers)
    df.select(col(idCol), nFffd.as("n_fffd"), nCtrl.as("n_ctrl"),
              nMoji.as("n_moji"),
              (nFffd === 0L && nCtrl === 0L && nMoji === 0L)
                .as("encoding_ok"))
  }

  /** Unicode script census — the per-script routing signal a
    * multilingual curation pipeline gates on before language-specific
    * stages (C4 keeps langdetect-English; FineWeb routes per language;
    * both need a cheap "which script is this" upstream of any model).
    * Per doc: character counts for Latin (incl. Latin-1/Extended
    * letters), Cyrillic, CJK (kana + unified ideographs), digits,
    * whitespace, and everything else, plus `main_script` = the largest
    * of the three script families (ties break latin > cyrl > cjk;
    * all-zero → 'none'; null text → all-null row).
    *
    * Counts are length-difference arithmetic over character-class
    * strips — one zero-shuffle codegen'd projection; the classes use
    * explicit code-point ranges (no \p{Script=…}, which Java and RE2
    * resolve against different Unicode tables).
    */
  /** (n_latin, n_cyrl, n_cjk) column builders \u2014 shared with the
    * composed `extractionPipeline` (same rationale as encodingCounts).
    */
  private def scriptCounts(t: Column): (Column, Column, Column) = {
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    (cnt("[A-Za-z\u00C0-\u024F]"),
     cnt("[\u0400-\u04FF]"),
     cnt("[\u3040-\u30FF\u4E00-\u9FFF]"))
  }

  /** Dominant-script CASE over the three script counts. */
  private def mainScript(t: Column, latin: Column, cyrl: Column,
                         cjk: Column): Column =
    when(t.isNull, lit(null).cast("string"))
      .when(latin === 0L && cyrl === 0L && cjk === 0L, lit("none"))
      .when(latin >= cyrl && latin >= cjk, lit("latin"))
      .when(cyrl >= cjk, lit("cyrl"))
      .otherwise(lit("cjk"))

  def scriptCensus(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val (latin, cyrl, cjk) = scriptCounts(t)
    val digit = cnt("[0-9]")
    val space = cnt("[ \\t\\n\\x0B\\f\\r]")
    val other = length(t).cast("long") -
      latin - cyrl - cjk - digit - space
    df.select(col(idCol), latin.as("n_latin"), cyrl.as("n_cyrl"),
              cjk.as("n_cjk"), digit.as("n_digit"), space.as("n_space"),
              other.as("n_other"),
              mainScript(t, latin, cyrl, cjk).as("main_script"))
  }

  /** Extraction-front flagship: the raw-crawl prefix of every web
    * corpus recipe, composed from the stateless gates in pipeline
    * order — stripMarkup (WET extraction) → encodingGate (mojibake
    * triage) → scriptCensus (route Latin) → a minimum-token floor on
    * the CLEANED text. Returns surviving (id, n_tokens).
    *
    * Every stage is a narrow projection over the stripped text, so the
    * whole chain is ONE zero-shuffle codegen'd pass per document — the
    * gate composition costs no more than its most expensive member,
    * and it runs unchanged on a readStream (each member is spec'd
    * stateless).
    */
  def extractionPipeline(df: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         minTokens: Long = 50L): DataFrame = {
    val stripped = stripMarkup(df, idCol, textCol)
      .select(col(idCol), col("clean_text").as(textCol))
    val t = col(textCol)
    // the gates compose as COLUMNS over the stripped text (shared
    // builders with encodingGate/scriptCensus), not as per-gate joins —
    // one projection, two filters, zero exchanges
    val (nFffd, nCtrl, nMoji) = encodingCounts(t, DefaultMojiMarkers)
    val (latin, cyrl, cjk) = scriptCounts(t)
    stripped
      .filter(nFffd === 0L && nCtrl === 0L && nMoji === 0L)
      .filter(mainScript(t, latin, cyrl, cjk) === "latin")
      .select(col(idCol), tokenCount(t).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
  }
}
