package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupOps
import graft.functions.ShingleExpressions
import graft.text.{Hashing, TextOps}

/** The training-data curation flagship (north-star scope): the standard
  * corpus-cleaning pass a 100 TB text pipeline runs before tokenization —
  *
  *   exact dedup (content hash, keep lowest id)
  *   → near-dup removal (12-gram Jaccard ≥ τ pairs → connected
  *     components → keep EXACTLY the minimum-id member of each duplicate
  *     component. Pairwise-only policies get chains wrong in both
  *     directions: "drop any doc with a smaller neighbour" under-deletes
  *     the chain B~A~C when A is the smallest id (B and C are transitive
  *     duplicates of each other, both kept), and greedy keep-first
  *     over-keeps C on A~B~C. The component view is the contract near-dup
  *     dedup actually means; the CC rounds shuffle only (id, id) pairs —
  *     ConnectedComponents scaladoc has the round analysis)
  *   → language filter
  *   → quality gate (token floor) + quality scoring
  *
  * Scale shape: exact dedup runs FIRST so the expensive per-byte work
  * (shingling, quality stats) only ever touches surviving documents, and
  * that work happens in ONE enrichment pass whose output is pinned and
  * shared by every later stage (near-dup postings, verify payloads, final
  * projection). The document bytes themselves move through exactly one
  * shuffle (the content-hash dedup) and are dropped the moment the
  * enrichment pass has consumed them — the cached footprint is hashes and
  * scalars, never the corpus.
  *
  * r1 lesson: this pipeline used three CHAINED lazy localCheckpoints
  * (exact-kept docs → hashed sets → prefix), whose unreclaimable pinned
  * blocks piled up across runs and stalled the local block manager. One
  * evictable `persist` on the single shared frame replaces all three
  * upstream of the join; Bench/Verify release it after each action.
  *
  * CACHE OWNERSHIP: `curate`'s plan references internally persisted
  * frames (the enrichment pass here, the prefix frame inside DedupOps).
  * Callers embedding it in a long-lived session should release them
  * after the consuming action: wrap the call in
  * `CacheScope.capture { ... }` and invoke the returned release() —
  * exactly the operator's pins are dropped, unrelated session caches
  * survive. `Session.dropCaches` (what Bench/Verify do between queries)
  * remains the blunt whole-session alternative.
  */
object CorpusPipeline {

  private val ShingleN = 12

  /** `sketchPairs` selects the near-dup pair generator over the shared
    * enrichment frame's shingle sets:
    *  - `true` (default): MinHash+LSH banding (k=64, b=16 — the
    *    q_minhash_lsh contract) + exact verify. THE production scale
    *    path: the pair join shuffles 16 band rows per document instead
    *    of every posting, at a per-pair miss probability of
    *    (1−s⁴)¹⁶ ≈ 1.2·10⁻² at the τ=0.7 boundary (falling fast with
    *    similarity: ≈2·10⁻⁴ at s=0.8, ≈10⁻⁷ by s=0.9) — the standard
    *    curation trade (GPT-3/Gopher-style dedup runs MinHash LSH, not
    *    an exact join). RECALL-PROBABILISTIC: a borderline pair can be
    *    missed, so outputs downstream of the pair set (components,
    *    survivors, splits) carry the same small per-pair risk;
    *    CorpusPipelineSpec pins LSH pairs == exact pairs on the bench
    *    corpora so drift on the oracle-checked data is caught.
    *  - `false`: the df-ordered prefix-filtered exact join — provably
    *    lossless for J ≥ τ, at posting-volume shuffle cost. The
    *    borderline-recall-critical variant (e.g. legal compliance
    *    dedup).
    * Both verify candidates exactly, so false positives never occur in
    * either mode.
    */
  def curate(docs: DataFrame, lang: String = "en",
             tau: Double = 0.7, minTokens: Int = 20,
             sketchPairs: Boolean = true,
             hashMode: Hashing.Mode = Hashing.OraclePortable): DataFrame =
    curateParts(docs, lang, tau, minTokens, sketchPairs, hashMode)._1

  /** `curate` with its internal near-dup COMPONENT frame exposed — the
    * composition hook for consumers that need both the survivors and
    * the duplicate clustering (exportCorpus's cluster-coherent split):
    * re-deriving it outside would re-shingle the corpus the enrichment
    * pass already paid for AND re-run the CC rounds. The components are
    * over the exact-deduped docs' pair graph; for split purposes that
    * is interchangeable with the raw-docs graph — a survivor's
    * component minimum is its own id in both (see exportCorpus).
    */
  def curateParts(docs: DataFrame, lang: String = "en",
                  tau: Double = 0.7, minTokens: Int = 20,
                  sketchPairs: Boolean = true,
                  hashMode: Hashing.Mode = Hashing.OraclePortable)
      : (DataFrame, DataFrame) = {
    // Exact dedup on content fingerprint, deterministic survivor = the
    // whole row with the lowest doc_id. min_by-aggregate rather than a
    // row_number window: identical semantics, but the aggregate gets
    // map-side partial combine — on a duplicate-heavy 100 TB corpus the
    // shuffle carries one candidate row per (map task, fingerprint)
    // instead of every duplicate, and nothing buffers whole groups.
    // project to the columns the pipeline actually consumes BEFORE the
    // dedup shuffle — the corpus's one full-data exchange should carry
    // nothing it won't use (source/n_chars etc. would ride the whole way)
    val needed = docs.select(col("doc_id"), col("lang"), col("text"))
    val exactKept = needed
      .groupBy(TextOps.fingerprint(col("text"), hashMode).as("__fp"))
      .agg(min_by(struct(needed.columns.map(col): _*), col("doc_id"))
             .as("__row"))
      .select(col("__fp"), col("__row.*"))

    // ONE pass over surviving text computes everything downstream needs;
    // pinned (evictable) because the near-dup join references it three
    // times and the final projection a fourth. The fingerprint rides
    // through from the dedup group key (__fp) — re-hashing every
    // surviving document here would be a second full md5 pass over the
    // corpus. Re-spread first: AQE coalesces the small post-dedup
    // shuffle toward one partition, which would run the per-byte
    // enrichment (shingles, quality stats) single-core. Hash on doc_id,
    // not round-robin — round-robin's retry-determinism sort would sort
    // the document bytes.
    val enriched = exactKept
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
                   col("doc_id"))
      .select(
        col("doc_id"), col("lang"),
        col("__fp").as("fingerprint"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.qualityScore(col("text")).as("quality_score"),
        ShingleExpressions.shingleHashes(col("text"), ShingleN).as("hs"))
      .withColumn("sz", size(col("hs")))
      .transform(graft.CacheScope.pin)

    // near-dup removal: pair graph → components → every non-canonical
    // (non-minimum) member drops. The pairs land in the CC loop's own
    // persisted canonical-edge frame at its first action, so the prefix
    // join runs once no matter how many rounds follow.
    val setsView = enriched.select(col("doc_id").as("id"), col("hs"),
                                   col("sz"))
    val pairs =
      if (sketchPairs)
        DedupOps.minhashLshPairsFromSets(setsView, k = 64, bands = 16, tau)
      else DedupOps.ngramJaccardPairsFromSets(setsView, tau)
    // the component frame is (id, comp) — tiny (duplicate docs only);
    // pinned because the drop-anti-join consumes it here and the export
    // composition's split consumes it AGAIN (re-deriving would re-run
    // the pair join and the CC rounds per consumer)
    val comp = graft.dedup.ConnectedComponents
      .connectedComponents(pairs, "id_a", "id_b", assumeDistinct = true)
      .transform(graft.CacheScope.pin)
    val dropIds = comp.filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))

    val curated = enriched.join(dropIds, Seq("doc_id"), "left_anti")
      .filter(col("lang") === lang && col("n_tokens") >= minTokens)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              col("quality_score"), col("fingerprint"))
    (curated, comp)
  }

  def flagship(spark: SparkSession, dir: String): DataFrame =
    curate(Tables.load(spark, dir, "documents"))

  /** Leakage-proof train/val/test assignment: every member of a near-dup
    * CLUSTER receives the SAME split, so no near-duplicate pair can
    * straddle train and test — the eval-contamination guarantee a
    * per-document hash split (TextOps.trainSplit) cannot give, because
    * near-identical texts hash to unrelated md5 values and ~12% of
    * duplicate pairs land astride the train/test cut.
    *
    * The split key is the component's minimum id (singleton documents are
    * their own key), hashed exactly like trainSplit: first hex digit of
    * md5 over the key's decimal string, 14:1:1. RNG-free and
    * re-derivable from the data alone, and the per-CLUSTER coin keeps
    * the expected split RATIOS on clusters, not documents — the standard
    * contract for dedup-aware splits.
    *
    * Scale shape: the pair graph collapses through the CC rounds ((id,
    * id) pairs only — see ConnectedComponents), the component frame joins
    * back by id (a hash join on the narrow comp frame), and the split
    * itself is a narrow projection. Nothing beyond the pair generator
    * touches document bytes.
    */
  def clusterSplit(docs: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id",
                   hashMode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame =
    clusterSplitFromComponents(docs,
      graft.dedup.ConnectedComponents
        .connectedComponents(pairs, "id_a", "id_b", assumeDistinct = true),
      idCol, hashMode)

  /** Eval-contamination AUDIT — the measurement twin of `clusterSplit`'s
    * guarantee. Given a per-document split assignment (`splits`: one row
    * per id with a split label — e.g. `TextOps.trainSplit` over text,
    * which does NOT know about near-duplicates) and the near-dup pair
    * truth (`pairs`: id_a < id_b rows from any of the near-dup joins),
    * report every pair that STRADDLES two splits: the eval documents a
    * per-document hash split silently leaks into train. Run it before
    * training; a non-empty train/test arm is the signal to switch to
    * `clusterSplit` — whose own assignment this audit certifies as
    * leak-free by construction (spec-pinned: auditing clusterSplit's
    * output returns zero rows, because a component shares one coin).
    *
    * Scale shape: `pairs` is already candidate-bounded by its generator
    * (LSH bands / df-ordered prefixes); the audit adds two narrow hash
    * joins on the 8-byte id column — Catalyst broadcasts the pair side
    * when it is small, and nothing here touches document bytes. Output
    * keeps every pair column (jaccard rides along for triage) plus
    * split_a/split_b.
    */
  def leakageAudit(splits: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id",
                   splitCol: String = "split"): DataFrame = {
    val sa = splits.select(col(idCol).as("id_a"),
                           col(splitCol).as("split_a"))
    val sb = splits.select(col(idCol).as("id_b"),
                           col(splitCol).as("split_b"))
    // LEFT joins, missing split = the explicit 'unsplit' label: an
    // AUDIT must surface a pair member the split table never covered
    // (splits computed over a filtered subset), not silently drop the
    // pair and certify "no leakage" for pairs it never checked — an
    // unsplit-vs-train pair is a finding, not a non-event
    pairs.join(sa, Seq("id_a"), "left_outer")
      .join(sb, Seq("id_b"), "left_outer")
      .select(pairs.columns.map(col) ++ Seq(
        coalesce(col("split_a"), lit("unsplit")).as("split_a"),
        coalesce(col("split_b"), lit("unsplit")).as("split_b")): _*)
      .filter(col("split_a") =!= col("split_b"))
  }

  /** `clusterSplit` over an ALREADY-COMPUTED (id, comp) component frame
    * (e.g. curateParts' — the CC rounds run once per pipeline, not once
    * per consumer).
    */
  def clusterSplitFromComponents(docs: DataFrame, components: DataFrame,
                                 idCol: String = "doc_id",
                                 hashMode: Hashing.Mode =
                                   Hashing.OraclePortable): DataFrame = {
    val comp = components.withColumnRenamed("id", idCol)
    val key = coalesce(col("comp"), col(idCol))
    // otherwise-arm = "test", not null: the oracle's CASE ELSE assigns
    // "test" unconditionally, and a null id must not fall out of all
    // three splits silently (key is non-null whenever the id is)
    val split = hashMode match {
      case Hashing.OraclePortable =>
        val h = substring(md5(key.cast("string")), 1, 1)
        when(h < "e", "train").when(h === "e", "val").otherwise("test")
      case Hashing.Production =>
        val a = pmod(xxhash64(key.cast("string")), lit(16L))
        when(a < 14L, "train").when(a === 14L, "val").otherwise("test")
    }
    docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster_key", key)
      .withColumn("split", split)
      .drop("comp")
  }

  /** The END PRODUCT dataflow: curate → leakage-proof cluster split →
    * fixed-window chunking → per-(split, lang) sequence packing →
    * JSONL written PARTITIONED BY split → declared-schema re-read →
    * per-split census. What a training run actually consumes: one
    * directory per split of context-window-packed JSONL, re-readable
    * without an inference job.
    *
    * Composition notes:
    *  - the split key rides the same pair graph the dedup used. For a
    *    curated survivor the component minimum IS its own id (curate
    *    keeps exactly the min-id member, and an exact-dup's fingerprint
    *    twin pairs at J=1.0, so the raw graph's component min survives
    *    both stages) — the export oracle exploits exactly that theorem
    *    (md5 over doc_id), so the driver compare cross-checks the
    *    survivor-is-canonical contract end to end.
    *  - packing partitions on (split, lang), never globally: bins must
    *    not straddle splits (a bin crossing train/test would leak), and
    *    the per-key window is the scale contract (packChunks scaladoc).
    *  - the write repartitions on split (the Sinks.partitioned
    *    discipline — one file per directory, not one per task), and the
    *    re-read declares the schema: no inference pass over the export.
    */
  def exportCorpus(docs: DataFrame, outPath: String,
                   lang: String = "en", tau: Double = 0.7,
                   minTokens: Int = 20, chunkTokens: Int = 50,
                   overlap: Int = 10, budget: Int = 512,
                   hashMode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    val spark = docs.sparkSession
    // ONE curation pass supplies both the survivors and the component
    // frame the split rides — re-deriving either would re-shingle the
    // corpus and re-run the CC rounds the curation already paid for.
    // Scoped INTERNALLY (unlike curate, whose returned plan still reads
    // its pins): the JSONL write below is the last consumer of the
    // curation caches, and the returned census is a fresh scan of the
    // written files — leaving the corpus-scale enrichment pinned after
    // return would accumulate dead blocks across repeated exports in a
    // long-lived session
    val ((curated, comp), releaseCuration) = graft.CacheScope.capture {
      curateParts(docs, lang, tau, minTokens, hashMode = hashMode)
    }
    try {
    val assigned = clusterSplitFromComponents(
      curated.select(col("doc_id"), col("lang")), comp,
      hashMode = hashMode)
      .select(col("doc_id"), col("lang"), col("split"))
    val chunks = TextOps.chunkDocs(
      assigned.select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), "doc_id"),
      "text", chunkTokens, overlap)
    val keyed = chunks.join(assigned, "doc_id")
      .withColumn("__pk", concat_ws("|", col("split"), col("lang")))
    TextOps.packChunks(keyed, "__pk", Seq("doc_id", "chunk_idx"),
                       "chunk_tokens", budget)
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"),
              col("chunk_tokens"), col("bin"), col("split"))
      .repartition(col("split"))
      .write.mode("overwrite").partitionBy("split").json(outPath)
    } finally releaseCuration()
    spark.read
      .schema("doc_id long, lang string, chunk_idx long, chunk string, " +
              "chunk_tokens long, bin long, split string")
      .json(outPath)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("doc_id")).as("n_docs"),
           countDistinct(col("bin")).as("n_bins"),
           sum(col("chunk_tokens")).as("n_tokens"))
  }

  /** Incremental (streaming) corpus curation: the streaming-safe prefix
    * of `curate` — exact content dedup with WATERMARK-BOUNDED state, then
    * the language/token-floor/repetition gates, which are all narrow
    * projections and stream untouched. Near-dup removal deliberately
    * stays a batch/backfill pass: a pairwise similarity join has no
    * bounded-state streaming form, so at scale it runs periodically over
    * the deduped store while THIS path keeps the ingest incremental.
    *
    * Dedup key is (fingerprint, lang) — every output column is then a
    * pure function of the key (lang is a key part; the stats derive from
    * the text behind the fingerprint), so the result SET is deterministic
    * no matter which physical duplicate the stream sees first, and the
    * batch twin (same code path, `isStreaming=false`) is set-equal.
    * Keying on fingerprint alone would be nondeterministic: identical
    * text can carry different lang tags, and whichever row arrived first
    * would decide whether the doc survives the language gate.
    */
  def curateStream(docs: DataFrame, lang: String = "en",
                   minTokens: Int = 20, maxRepetition: Double = 1.0,
                   lateness: String = "10 minutes",
                   hashMode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    val withFp = docs
      .withColumn("fingerprint", TextOps.fingerprint(col("text"), hashMode))
    val deduped =
      if (withFp.isStreaming)
        // ingest-time watermark: a duplicate arriving within `lateness`
        // of the first copy is dropped; state for older fingerprints is
        // evicted — the only dedup that survives an unbounded ingest
        withFp.withColumn("__ingest_ts", current_timestamp())
          .withWatermark("__ingest_ts", lateness)
          .dropDuplicatesWithinWatermark("fingerprint", "lang")
          .drop("__ingest_ts")
      else withFp.dropDuplicates("fingerprint", "lang")
    deduped
      .select(col("fingerprint"), col("lang"),
              TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
              TextOps.qualityScore(col("text")).as("quality_score"),
              round(TextOps.topTokenRatio(col("text")), 6).as("rep_ratio"))
      .filter(col("lang") === lang && col("n_tokens") >= minTokens &&
                col("rep_ratio") <= maxRepetition)
  }

  /** Per-document CURATION REASON REPORT — the "why was my document
    * dropped" tool every production corpus pipeline grows: one row per
    * doc with each C4-style gate's verdict (null text, language
    * allowlist, term blocklist, token floor, exact-dup canonical
    * election), the final keep decision, and a deterministic
    * ','-joined sorted reason list for the drops. The gates are the
    * same operators the curate flagship applies — this is their
    * auditable projection, so report and pipeline can never disagree
    * on a verdict. (The Gopher rule battery has its own per-rule
    * report, `TextOps.gopherRules` / q_gopher_rules.)
    *
    * Scale shape: the blocklist folds to one broadcast row
    * (blocklistGate), the canonical election is one fingerprint-keyed
    * aggregate joined back narrow, every other gate is per-row
    * arithmetic on the scan. Null text fingerprints as null and is NOT
    * a duplicate (no content ≠ duplicate content) — it fails its own
    * `null_text` gate instead.
    */
  def curationReport(docs: DataFrame, blocklist: DataFrame,
                     langs: Seq[String], minTokens: Int = 10,
                     idCol: String = "doc_id", textCol: String = "text",
                     langCol: String = "lang",
                     hashMode: Hashing.Mode = Hashing.OraclePortable)
      : DataFrame = {
    val b = TextOps.blocklistGate(docs, blocklist, idCol = idCol,
                                  textCol = textCol)
      .select(col(idCol), col("blocked"))
    val base = docs.select(
      col(idCol),
      col(textCol).isNotNull.as("text_ok"),
      coalesce(col(langCol).isin(langs: _*), lit(false)).as("lang_ok"),
      coalesce(TextOps.tokenCount(col(textCol)) >= minTokens,
               lit(false)).as("token_floor"),
      TextOps.fingerprint(col(textCol), hashMode).as("__fp"))
    val canon = base.filter(col("__fp").isNotNull)
      .groupBy(col("__fp")).agg(min(col(idCol)).as("__canon"))
    base.join(canon, Seq("__fp"), "left")
      .withColumn("canonical",
        col("__fp").isNull || col(idCol) === col("__canon"))
      .join(b, idCol)
      .withColumn("keep",
        col("text_ok") && col("lang_ok") && !col("blocked") &&
          col("token_floor") && col("canonical"))
      .withColumn("reasons", concat_ws(",", array_sort(filter(array(
        when(!col("text_ok"), lit("null_text")),
        when(!col("lang_ok"), lit("lang")),
        when(col("blocked"), lit("blocklist")),
        when(!col("token_floor"), lit("short")),
        when(!col("canonical"), lit("duplicate"))),
        x => x.isNotNull))))
      .select(col(idCol), col("text_ok"), col("lang_ok"), col("blocked"),
              col("token_floor"), col("canonical"), col("keep"),
              col("reasons"))
  }
}
