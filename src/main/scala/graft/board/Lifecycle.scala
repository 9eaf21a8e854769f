package graft
package board

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.stampEpochOrder
import graft.board.Dedup.{closureCtes, jaccardPairsCte}
import graft.dedup.{CorpusRefresh, MinhashIndex}
import graft.io.Sinks
import graft.similarity.SimilarityOps
import graft.text.Bm25Index

/** Board queries that write and re-read persisted state: the MinHash
  * index and its stream ingest, forget cascades, corpus refresh (one-shot
  * and streaming), table maintenance (merge, time travel, delete, compact,
  * partition upsert) and physical layouts (z-order, bloom, file census).
  */
object Lifecycle {

  lazy val cases: Seq[Case] = Seq(

    // Persisted signature index (the lexical IVF-append twin): build
    // band postings + shingle sets on disk from the even-id corpus,
    // then INGEST the odd-id batch — probe (batch shingled once, bucket
    // join against stored postings, exact verify against stored sets —
    // corpus text never re-read) then append. Same LSH geometry as
    // q_minhash_lsh, so the exact-Jaccard oracle holds wherever recall
    // does; id_a = index member, id_b = probe member
    // Fixture: the mod-4 quarter as the standing index, the adjacent
    // quarter as the ingest batch — build+probe+append semantics are
    // corpus-size-free (MinhashIndexSpec pins them), and the LSH
    // machinery's full-corpus cost already rides q_minhash_lsh
    Case("q_minhash_index", (s, dir) => {
      val root = scratch(dir, "mhindex")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
      MinhashIndex.build(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
                         "doc_id", "text", root,
                         n = 12, k = 64, bands = 16)
      MinhashIndex.ingest(docs.filter(pmod(col("doc_id"), lit(4)) === 2),
                          "doc_id", "text", root, tau = 0.7)
    },
      // same truth as q_incremental_dedup (cross-parity exact-Jaccard
      // pairs, id_a = the even/index side) — the index path must find
      // exactly what the R-S join finds
      Some((jaccardPairsCte + "\n" +
        """SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS id_a,
          |       CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS id_b,
          |       jaccard
          |FROM pairs
          |WHERE (id_a % 4 = 0 AND id_b % 4 = 2)
          |   OR (id_a % 4 = 2 AND id_b % 4 = 0)""".stripMargin))),

    // CASCADE FORGET flagship: the right-to-be-forgotten must reach
    // every DERIVED artifact, not just the source table. Stand up the
    // warehouse (docs + embeddings tables, persisted IVF index,
    // persisted MinHash index), forget ids ≡ 0 mod 97 everywhere —
    // staged-swap table rewrites, partition-targeted IVF list rewrites,
    // tombstone-then-compact on the signature index — then census every
    // artifact: n_forgotten must be 0 across the board and the
    // survivors' id checksums must equal the recomputed truth
    // Fixture: the even halves of both base tables — the cascade's
    // semantics (forget reaches all five artifacts, censuses prove it)
    // are corpus-size-free, and each artifact build re-pays scan/
    // shingle/assign cost per bench run
    Case("q_forget_cascade", (s, dir) => {
      val root = scratch(dir, "forget")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("source"))
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id") % 2 === 0)
      val docsT = s"$root/docs"; val embT = s"$root/emb"
      val mhRoot = s"$root/mh"; val bmRoot = s"$root/bm25"
      // BUILD the five artifacts concurrently (CorpusRefresh.inParallel
      // scaladoc): each lands in its own directory off the SOURCE
      // frames, so ordering between them is pure serialization waste.
      // bm25: one artifact among five — the mod-4 sub-half exercises
      // the cascade without double-tokenizing the fixture. Its census
      // below reads the LIVE logical view (postings minus the
      // dl-carrying tombstones — what probes serve from the instant
      // forget returns); the physical-erasure path (compactIndex) is
      // spec-certified in Bm25IndexSpec and costs a full store rewrite
      // the flagship doesn't need to pay per bench run
      CorpusRefresh.inParallel(
        () => docs.write.parquet(docsT),
        () => emb.write.parquet(embT),
        () => MinhashIndex.build(docs, "doc_id", "text", mhRoot,
                                 n = 12, k = 16, bands = 4),
        () => {
          val cents = SimilarityOps.seedCentroids(emb, "vec_id",
                                                  "embedding", nlist = 8)
          SimilarityOps.saveIndex(
            SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents),
            cents, s"$root/ivf")
        },
        () => Bm25Index.build(docs.filter(col("doc_id") % 4 === 0),
                              bmRoot, buckets = 4))
      // FORGET everywhere the ids live — five independent stores,
      // concurrently; the signature-index compaction stays ordered
      // after its own forget inside its task
      CorpusRefresh.inParallel(
        () => Sinks.deleteWhere(s, docsT,
                                pmod(col("doc_id"), lit(97)) === 0),
        () => Sinks.deleteWhere(s, embT,
                                pmod(col("vec_id"), lit(97)) === 0),
        () => SimilarityOps.forgetFromIndex(
          emb.filter(pmod(col("vec_id"), lit(97)) === 0)
            .select(col("vec_id")),
          "vec_id", s"$root/ivf"),
        () => {
          MinhashIndex.forget(
            docs.filter(pmod(col("doc_id"), lit(97)) === 0)
              .select(col("doc_id")),
            "doc_id", mhRoot)
          MinhashIndex.compactIndex(s, mhRoot)
        },
        () => Bm25Index.forget(
          docs.filter(pmod(col("doc_id"), lit(97)) === 0)
            .select(col("doc_id")),
          bmRoot))
      def census(name: String, df: DataFrame, idc: String) =
        df.agg(count(lit(1)).as("n_rows"),
               coalesce(sum(col(idc)), lit(0L)).as("id_sum"),
               coalesce(sum(when(pmod(col(idc), lit(97)) === 0, 1L)
                 .otherwise(0L)), lit(0L)).as("n_forgotten"))
          .withColumn("artifact", lit(name))
      census("docs", Tables.read(s, docsT), "doc_id")
        .unionByName(census("emb", Tables.read(s, embT), "vec_id"))
        .unionByName(census("ivf_lists",
          Tables.read(s, s"$root/ivf/lists"), "vec_id"))
        .unionByName(census("mh_sets",
          Tables.read(s, s"$mhRoot/sets"), "id"))
        .unionByName(census("mh_buckets",
          Tables.read(s, s"$mhRoot/buckets"), "id"))
        .unionByName(census("bm25_postings",
          Tables.read(s, s"$bmRoot/postings")
            .join(Tables.read(s, s"$bmRoot/tombstones")
                    .select(col("doc_id")), Seq("doc_id"), "left_anti"),
          "doc_id"))
        .select(col("artifact"), col("n_rows"), col("id_sum"),
                col("n_forgotten"))
    },
      // every artifact recomputed from base-minus-forgotten; buckets =
      // bands(4) postings per bandable doc (len ≥ n — empty shingle sets
      // never band)
      Some("""WITH d AS (SELECT doc_id FROM documents
        |          WHERE doc_id % 2 = 0 AND doc_id % 97 <> 0),
        |     e AS (SELECT vec_id FROM embeddings
        |          WHERE vec_id % 2 = 0 AND vec_id % 97 <> 0),
        |     db AS (SELECT doc_id FROM documents
        |            WHERE doc_id % 2 = 0 AND doc_id % 97 <> 0
        |              AND len(text) >= 12)
        |SELECT 'docs' AS artifact, count(*) AS n_rows,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(0 AS BIGINT) AS n_forgotten FROM d
        |UNION ALL
        |SELECT 'emb', count(*), CAST(sum(vec_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'ivf_lists', count(*), CAST(sum(vec_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'mh_sets', count(*), CAST(sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM d
        |UNION ALL
        |SELECT 'mh_buckets', 4 * count(*), CAST(4 * sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM db
        |UNION ALL
        |SELECT 'bm25_postings', count(*), CAST(sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT)
        |FROM (SELECT DISTINCT doc_id, term FROM
        |       (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                             x -> x <> '')) AS term
        |        FROM documents
        |        WHERE doc_id % 97 <> 0 AND doc_id % 4 = 0))""".stripMargin)),

    // Day-2 flagship: INCREMENTAL CORPUS REFRESH riding PERSISTED
    // screening state (CorpusRefresh). establish = warehouse table +
    // one-time MinHash signature index + fingerprint store; refresh =
    // token floor → exact-content novelty (anti-join vs the PERSISTED
    // fingerprints) → WITHIN-batch near-dup election (pairs + CC +
    // canonical-min — a batch can duplicate itself) → cross-corpus
    // screen by PROBING the persisted band postings (exact-verified
    // against stored candidate sets; warehouse text is never re-read —
    // the one-shot r6 form re-shingled the whole warehouse per batch,
    // a full-corpus scan per ingest at 100 TB) → crash-safe mergeByKey
    // insert → per-source census. Every stage's logic already has an
    // oracle; the composition chains them, and the banding geometry's
    // recall is itself oracle-proven by q_minhash_lsh/q_minhash_index.
    Case("q_incremental_refresh", (s, dir) => {
      val path = scratch(dir, "refresh")
      // Fixture: the even half (warehouse = 2/3 of it, batch = 1/3 via
      // the mod-3 split within) — every stage's semantics are
      // corpus-size-free and each is oracle-checked on exactly this
      // slice; the near-dup machinery's full-corpus cost already rides
      // q_ngram_jaccard/q_incremental_dedup
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      // establish ONCE per scratch lifetime (day-0 amortizes across
      // batches — the architecture's point); re-running the refresh
      // against an already-refreshed store is the REPLAY case, which
      // CorpusRefreshSpec pins as a bit-identical no-op, so every run
      // of this query returns the same census
      if (!CorpusRefresh.established(s, s"$path/mh"))
        CorpusRefresh.establish(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", s"$path/table", s"$path/mh")
      CorpusRefresh.refresh(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", s"$path/table", s"$path/mh",
        tau = 0.7, minTokens = 20)
      Tables.read(s, s"$path/table")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    },
      Some(refreshOracle(0))),

    // The day-2 flagship AT INGEST TIME: CorpusRefresh.refreshStream
    // over the SAME store as q_incremental_refresh — a file source
    // delivers the first half of the flagship's batch as 2 ascending-id
    // micro-batch files (maxFilesPerTrigger=1), each foreachBatch runs
    // the persisted-state refresh, and the final census must hash-match
    // the one-shot refresh's oracle. Every streamed micro-batch is an
    // at-least-once REPLAY of already-refreshed data (foreachBatch's
    // delivery window, deliberately): exactly-once end to end means a
    // replay appends NOTHING and the census stays bit-identical, and
    // that is precisely what the shared twin checks — any leaked
    // append shifts a count. In the sorted Verify/Bench order the
    // flagship has already paid establish+refresh, so this row costs
    // only the two micro-batch probes (O(micro-batch) each, the
    // at-scale per-epoch price); standalone on a fresh scratch the
    // bootstrap below reproduces the flagship's state first (the
    // establish-once contract), keeping the row order-independent.
    // The first run also consumes both files into the checkpoint, so a
    // timer that warms first (Probe time, Bench) times only a
    // checkpointed restart with no new input; time refresh work through
    // q_incremental_refresh.
    Case("q_refresh_stream", (s, dir) => {
      val path = scratch(dir, "refresh")
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      if (!CorpusRefresh.established(s, s"$path/mh")) {
        CorpusRefresh.establish(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", s"$path/table", s"$path/mh")
        CorpusRefresh.refresh(batch, "doc_id", "text", s"$path/table",
                              s"$path/mh", tau = 0.7, minTokens = 20)
          .unpersist(false)
      }
      val inDir = s"$path/in"
      val inPath = new org.apache.hadoop.fs.Path(inDir)
      val fs = inPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(inPath)) {
        // 2 single-file micro-batches, ascending id quartiles of the
        // batch's first half, written oldest-first (the file source's
        // processing order)
        val tiled = batch
          .withColumn("__t", ntile(4).over(Window.orderBy(col("doc_id"))))
        val seen = scala.collection.mutable.Set.empty[String]
        (1 to 2).foreach { i =>
          tiled.filter(col("__t") === i).drop("__t")
            .coalesce(1).write.mode("append").parquet(inDir)
          stampEpochOrder(fs, inPath, i, seen)
        }
      }
      val q = CorpusRefresh.refreshStream(
        s.readStream.schema(t(s, dir, "documents").schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "doc_id", "text", s"$path/table", s"$path/mh",
        tau = 0.7, minTokens = 20, checkpoint = s"$path/ckpt")
      try q.processAllAvailable() finally q.stop()
      Tables.read(s, s"$path/table")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    },
      // the stream query shares the one-shot flagship's fixture and
      // store — same generated twin (the replay/fresh interleaving
      // argument lives on the query)
      Some(refreshOracle(0))),

    // MinhashIndex.ingestStream board row (r8 verdict task): streaming
    // probe+append against the persisted signature index — the ingest
    // quarter (mod-4 ≡ 2) arrives as 2 ascending-id-half micro-batch
    // files against the standing mod-4 ≡ 0 index. Epoch 1 probes the
    // original index; epoch 2 probes index ∪ epoch 1 (its append is
    // live), so the streamed union = cross-quarter pairs PLUS the
    // within-quarter pairs that straddle the half boundary — the oracle
    // models the boundary with the same ntile(2) split. Establish-once
    // (q_refresh_stream recipe): later runs replay processAllAvailable
    // as a checkpointed no-op and the pairs census must stay
    // bit-identical — the exactly-once-under-replay contract,
    // driver-checked. id_a = index member at probe time, id_b = probe
    // member (so within-quarter pairs carry id_a from the FIRST half).
    // Because of that replay contract a timer that warms first (Probe
    // time, Bench) times only a checkpointed restart with no new input
    // (0.10–0.17 s at sf0.1, against ~3 s for q_minhash_index's
    // build+ingest); time ingest work through q_minhash_index.
    Case("q_ingest_stream", (s, dir) => {
      val root = scratch(dir, "mhingest")
      val docs = t(s, dir, "documents")
      val mhRoot = s"$root/mh"
      val inDir = s"$root/in"
      val pairsOut = s"$root/pairs"
      val marker = new org.apache.hadoop.fs.Path(s"$mhRoot/params")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        Sinks.dropTable(s, root)
        MinhashIndex.build(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
                           "doc_id", "text", mhRoot,
                           n = 12, k = 64, bands = 16)
        // 2 single-file micro-batches: ascending-id halves of the
        // ingest quarter, written oldest-first (file-source order)
        val tiled = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
          .withColumn("__h", ntile(2).over(Window.orderBy(col("doc_id"))))
        val inP = new org.apache.hadoop.fs.Path(inDir)
        val seen = scala.collection.mutable.Set.empty[String]
        (1 to 2).foreach { i =>
          tiled.filter(col("__h") === i).drop("__h")
            .coalesce(1).write.mode("append").parquet(inDir)
          stampEpochOrder(fs, inP, i, seen)
        }
      }
      val q = MinhashIndex.ingestStream(
        s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "doc_id", "text", mhRoot, tau = 0.7, pairsOut,
        checkpoint = s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      Tables.read(s, pairsOut)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },
      // the exact-Jaccard pair truth restricted to what the two-epoch
      // stream observes: cross-quarter pairs (canonicalized index-side
      // first) plus within-quarter pairs straddling the ntile(2) half
      // boundary (epoch 2 probing epoch 1's freshly-appended half)
      Some((jaccardPairsCte + ",\n" +
        """q2 AS (SELECT doc_id, ntile(2) OVER (ORDER BY doc_id) AS half
          |       FROM documents WHERE doc_id % 4 = 2)
          |SELECT CASE WHEN p.id_a % 4 = 2 AND p.id_b % 4 = 0
          |            THEN p.id_b ELSE p.id_a END AS id_a,
          |       CASE WHEN p.id_a % 4 = 2 AND p.id_b % 4 = 0
          |            THEN p.id_a ELSE p.id_b END AS id_b,
          |       p.jaccard
          |FROM pairs p
          |LEFT JOIN q2 ha ON ha.doc_id = p.id_a
          |LEFT JOIN q2 hb ON hb.doc_id = p.id_b
          |WHERE (p.id_a % 4 = 0 AND p.id_b % 4 = 2)
          |   OR (p.id_a % 4 = 2 AND p.id_b % 4 = 0)
          |   OR (p.id_a % 4 = 2 AND p.id_b % 4 = 2
          |       AND ha.half = 1 AND hb.half = 2)""".stripMargin))),

    // Parquet schema evolution: a second batch adds a column; the
    // mergeSchema read unions the schemas and back-fills null — the lake
    // ingest reality the warehouse boundary (S10) must survive
    Case("q_schema_evolution", (s, dir) => {
      val path = scratch(dir, "schema_evo")
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/b=1")
      o.select(col("o_orderkey"), col("o_totalprice"),
               col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$path/b=2")
      // the one read off `Tables.read`: a merged schema needs every
      // file's footer, which is Spark's inference job by design
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/b=1", s"$path/b=2")
        .agg(count(lit(1)).as("n"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             count(col("o_orderstatus")).as("status_rows"))
    },
      Some("""WITH merged AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders)
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
        |       count(o_orderstatus) AS status_rows
        |FROM merged""".stripMargin)),

    // ORC round-trip: the third columnar format a warehouse boundary
    // speaks (parquet and CSV are covered elsewhere) — write, re-read,
    // aggregate; the oracle computes the same aggregate from the source
    // parquet, so the round-trip must be lossless
    Case("q_orc_roundtrip", (s, dir) => {
      val path = scratch(dir, "orc_roundtrip")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                col("o_totalprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    },
      Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin)),

    // JSON-lines round-trip: the interchange format crawl/annotation
    // pipelines actually exchange — write, re-read with a DECLARED schema
    // (no inference job over 100 TB), aggregate; oracle computes the same
    // aggregate from the source parquet, so the trip must be lossless
    Case("q_jsonl_roundtrip", (s, dir) => {
      val path = scratch(dir, "jsonl_roundtrip")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                col("o_totalprice"))
        .write.mode("overwrite").json(path)
      s.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .json(path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    },
      Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin)),

    // Row-level MERGE (CDC upsert): seed the customer table, merge a
    // doubled-balance update batch for every 10th key TWICE (latest
    // wins, idempotent), census the merged state. Complements
    // q_partition_upsert's partition-granular idempotence.
    Case("q_merge_upsert", (s, dir) => {
      val path = scratch(dir, "merge")
      val cust = t(s, dir, "customer")
      Sinks.replaceLoad(cust, path)
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
      Sinks.mergeByKey(updates, Seq("c_custkey"), path)
      Sinks.mergeByKey(updates, Seq("c_custkey"), path) // idempotent
      Tables.read(s, path).agg(
        count(lit(1)).as("n"),
        sum(when(col("c_custkey") % 10 === 0, 1L).otherwise(0L))
          .as("n_updated"),
        round(sum(col("c_acctbal")), 4).as("balance"))
    },
      Some("""SELECT count(*) AS n,
        |       CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_updated,
        |       round(sum(CASE WHEN c_custkey % 10 = 0
        |                      THEN c_acctbal * 2
        |                      ELSE c_acctbal END), 4) AS balance
        |FROM customer""".stripMargin)),

    // Versioned table + time travel + retention (the Delta/Iceberg
    // snapshot idea on its marker-atomic core): three committed
    // snapshots (full load → source delete → targeted update), vacuum
    // to the last two, then aggregate BOTH survivors — reading v2
    // after v3 committed IS time travel, and v1 must be reclaimed
    Case("q_time_travel", (s, dir) => {
      val root = scratch(dir, "timetravel")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      Sinks.versionedWrite(docs, root) // v1
      Sinks.versionedWrite(
        Sinks.versionedRead(s, root).filter(col("source") =!= "src7"),
        root) // v2: GDPR-style source removal
      Sinks.versionedWrite(
        Sinks.versionedRead(s, root).withColumn("n_chars",
          when(col("source") === "src1", col("n_chars") * 2)
            .otherwise(col("n_chars"))),
        root) // v3: targeted correction
      Sinks.vacuum(s, root, keep = 2) // v1 reclaimed
      Sinks.listVersions(s, root).map { v =>
        Sinks.versionedRead(s, root, Some(v))
          .agg(count(lit(1)).as("n_rows"),
               countDistinct(col("source")).as("n_sources"),
               sum(col("n_chars")).as("sum_chars"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("n_rows"), col("n_sources"),
                col("sum_chars"))
    },
      // the two surviving snapshots recomputed from the base table; the
      // version numbers are deterministic (fresh root every run)
      Some("""WITH v2 AS (SELECT doc_id, source, n_chars FROM documents
        |            WHERE source <> 'src7'),
        |     v3 AS (SELECT doc_id, source,
        |              CASE WHEN source = 'src1' THEN n_chars * 2
        |                   ELSE n_chars END AS n_chars
        |            FROM v2)
        |SELECT CAST(2 AS INTEGER) AS version, count(*) AS n_rows,
        |       count(DISTINCT source) AS n_sources,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), count(*), count(DISTINCT source),
        |       CAST(sum(n_chars) AS BIGINT)
        |FROM v3""".stripMargin)),

    // Keyed snapshot diff (the refresh regression check): old = the
    // documents table, new = the same table with planted removals
    // (doc_id % 17), edits (src3 docs grow 5 chars), and additions
    // (re-keyed copies of the % 23 docs) — one row per differing key
    Case("q_table_diff", (s, dir) => {
      val old = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val nw = old.filter(col("doc_id") % 17 =!= 0)
        .withColumn("n_chars",
          when(col("source") === "src3", col("n_chars") + 5)
            .otherwise(col("n_chars")))
        .unionByName(old.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
                  lit("xx").as("lang"), col("source"), col("n_chars")))
      graft.ops.CoreOps.snapshotDiff(old, nw, Seq("doc_id"))
    },
      // same planted removals/edits/additions; IS DISTINCT FROM is the
      // null-safe payload compare, concat_ws skips the null (unchanged)
      // column labels in both engines
      Some("""WITH o AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |n AS (SELECT doc_id, lang, source,
        |        CASE WHEN source = 'src3' THEN n_chars + 5
        |             ELSE n_chars END AS n_chars
        |      FROM documents WHERE doc_id % 17 <> 0
        |      UNION ALL
        |      SELECT doc_id + 1000000, 'xx', source, n_chars
        |      FROM documents WHERE doc_id % 23 = 0),
        |j AS (SELECT o.doc_id AS ok, n.doc_id AS nk,
        |        o.lang AS ol, n.lang AS nl,
        |        o.source AS os, n.source AS ns,
        |        o.n_chars AS oc, n.n_chars AS nc
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT coalesce(ok, nk) AS doc_id,
        |  CASE WHEN ok IS NULL THEN 'added'
        |       WHEN nk IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  CASE WHEN ok IS NULL OR nk IS NULL THEN NULL
        |       ELSE concat_ws(',',
        |         CASE WHEN ol IS DISTINCT FROM nl THEN 'lang' END,
        |         CASE WHEN os IS DISTINCT FROM ns THEN 'source' END,
        |         CASE WHEN oc IS DISTINCT FROM nc THEN 'n_chars' END)
        |  END AS changed_cols
        |FROM j
        |WHERE ok IS NULL OR nk IS NULL
        |   OR ol IS DISTINCT FROM nl
        |   OR os IS DISTINCT FROM ns
        |   OR oc IS DISTINCT FROM nc""".stripMargin)),

    // Targeted delete (GDPR/TTL rewrite): forget every 7th user, census
    // the survivors against the source-side NOT-filter oracle.
    Case("q_delete_where", (s, dir) => {
      val path = scratch(dir, "delete")
      Sinks.replaceLoad(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
                                   col("value")), path)
      Sinks.deleteWhere(s, path, col("user_id") % 7 === 0)
      Tables.read(s, path).agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("total_value"))
    },
      Some(// the OR IS NULL arm mirrors deleteWhere's null-retention
      // contract (delete only what PROVABLY matches) — NOT(NULL) would
      // silently drop null-key rows from the oracle side
      """SELECT count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 4) AS total_value
        |FROM events
        |WHERE user_id % 7 <> 0 OR user_id IS NULL""".stripMargin)),

    // Small-file compaction: 64-file scatter -> 4 files, data-identical
    // (census vs the source table; the file-count assert lives in the
    // spec).
    Case("q_compact", (s, dir) => {
      val path = scratch(dir, "compact")
      t(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(path)
      Sinks.compact(s, path, 4)
      Tables.read(s, path).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    },
      Some("""SELECT count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin)),

    // Idempotent month-partition upsert: load month 3 twice via dynamic
    // partition overwrite — the count must equal ONE load (the at-scale
    // fix for the reference's duplicate-on-retry mode("append"))
    Case("q_partition_upsert", (s, dir) => {
      val path = scratch(dir, "upsert")
      val li = t(s, dir, "lineitem")
        .withColumn("ship_month", month(col("l_shipdate")))
        .repartition(col("ship_month"))
      Sinks.writePartitioned(li.filter(col("ship_month") =!= 3),
                             "ship_month", path)
      // load month 3 twice — idempotent
      val m3 = li.filter(col("ship_month") === 3)
      Sinks.upsertPartition(m3, "ship_month", path)
      Sinks.upsertPartition(m3, "ship_month", path)
      Tables.read(s, path)
        .agg(count(lit(1)).as("n"),
             countDistinct(col("ship_month")).as("n_months"))
    },
      Some("""SELECT count(*) AS n,
        |       count(DISTINCT CAST(date_part('month', l_shipdate)
        |                           AS INTEGER)) AS n_months
        |FROM lineitem""".stripMargin)),

    // Layout health report: scatter events 16-ways into month
    // partitions, report the per-partition file census (metadata-only
    // driver listing, the OPTIMIZE planning cost), compact, report
    // again — the before/after proves the signal drives the action.
    // n_files/n_small are deterministic; byte columns are
    // encoding-dependent so the driver check is rows-only, with the
    // census pinned by spec
    // Fixture: the mod-4 quarter of events — the demo's subject is FILE
    // COUNTS (16 scattered files per day partition -> 1 compacted), and
    // the file census is row-volume-free; only the write payload
    // shrinks. Rows-only by design (file-census bytes are
    // encoding-dependent), so the fixture is bench-local.
    Case("q_layout_stats", (s, dir) => {
      val path = scratch(dir, "layout")
      val ev = t(s, dir, "events")
        .filter(col("event_id") % 4 === 0)
        .withColumn("day", dayofmonth(col("ts")))
        .select(col("event_id"), col("user_id"), col("value"),
                col("day"))
      ev.repartition(8)
        .write.mode("overwrite").partitionBy("day").parquet(path)
      val before = Sinks.layoutStats(s, path)
        .select(col("partition"), col("n_files"),
                col("n_small_files"), lit("scattered").as("phase"))
      Sinks.compactPartitions(s, path, "day")
      val after = Sinks.layoutStats(s, path)
        .select(col("partition"), col("n_files"),
                col("n_small_files"), lit("compacted").as("phase"))
      before.unionByName(after)
    },
      None),

    // Z-order clustered layout (Delta OPTIMIZE ZORDER analog): write
    // events range-partitioned+sorted on the (user_id, value) Morton
    // key, read back the census — the layout must be data-invariant
    // (the q_compact contract); per-dimension file-pruning quality is
    // spec-pinned in ZOrderSpec
    Case("q_zorder_layout", (s, dir) => {
      val path = scratch(dir, "zorder")
      Sinks.zorderWrite(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
                                   col("value")),
        Seq("user_id", "value"), path, 16)
      Tables.read(s, path).agg(
        count(lit(1)).as("n"),
        sum(col("user_id")).as("uid_sum"),
        round(sum(col("value")), 4).as("v"))
    },
      // layout is physical — the readable contract is an exact census
      Some("""SELECT count(*) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |       round(sum(value), 4) AS v
        |FROM events""".stripMargin)),

    // Parquet-native bloom filters on the point-lookup columns (row-
    // group pruning for `id = x` probes — the layout lever Z-order's
    // min/max can't give a uniformly-spread id column); the layout is
    // physical, so the readable contract is the exact census plus a
    // needle probe that must come back identical through the filter
    Case("q_bloom_layout", (s, dir) => {
      val path = scratch(dir, "bloomlayout")
      Sinks.bloomFilterWrite(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
                                   col("value")),
        Seq("event_id", "user_id"), path, ndv = 100000L)
      val back = Tables.read(s, path)
      back.agg(count(lit(1)).as("n"),
               sum(col("user_id")).as("uid_sum"),
               round(sum(col("value")), 4).as("v"))
        .crossJoin(back.filter(col("event_id") === 42L)
          .agg(count(lit(1)).as("n_probe")))
    },
      Some("""SELECT count(*) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |       round(sum(value), 4) AS v,
        |       (SELECT count(*) FROM events WHERE event_id = 42)
        |         AS n_probe
        |FROM events""".stripMargin))
  )

  /** q_incremental_refresh / q_refresh_stream twin, parameterized by
    * the doc_id parity selecting the fixture half (both board rows use
    * 0 — the streaming query deliberately shares the one-shot
    * flagship's fixture AND persisted store, so the driver's oracle
    * check covers the replay interleaving). The streaming form must
    * land the SAME census as the one-shot refresh of its whole batch:
    * micro-batches arrive in ascending id order, so each near-dup
    * cluster's canonical-min doc is inserted no later than its other
    * members are screened — the CorpusRefresh replay/idempotence
    * contract then makes the composition order-insensitive (verified
    * by this shared twin, not assumed).
    */
  private def refreshOracle(parity: Int): String =
    s"""WITH RECURSIVE wh AS (SELECT * FROM documents
      |      WHERE doc_id % 2 = $parity AND doc_id % 3 <> 0),
      |nb AS (SELECT * FROM documents
      |      WHERE doc_id % 2 = $parity AND doc_id % 3 = 0),
      |g1 AS (SELECT * FROM nb
      |       WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
      |                             x -> x <> '')) >= 20
      |         AND md5(text) NOT IN (SELECT md5(text) FROM wh
      |                               WHERE text IS NOT NULL)),
      |idx AS (SELECT unnest(range(1,
      |    (SELECT CAST(max(len(text)) AS BIGINT) FROM documents))) AS i),
      |shn AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12)
      |          AS s
      |        FROM g1 JOIN idx ON i <= len(text)-11),
      |szn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY 1),
      |commonb AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |                   count(*) AS c
      |            FROM shn a JOIN shn b
      |              ON a.s = b.s AND a.doc_id < b.doc_id
      |            GROUP BY 1, 2),
      |bprs AS (SELECT id_a, id_b FROM commonb
      |         JOIN szn sa ON sa.doc_id = id_a
      |         JOIN szn sb ON sb.doc_id = id_b
      |         WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7),
      |""".stripMargin +
      closureCtes("bprs") + """,
      |drops AS (SELECT id FROM reach
      |          GROUP BY id HAVING id <> min(lbl)),
      |canon AS (SELECT * FROM g1
      |          WHERE doc_id NOT IN (SELECT id FROM drops)),
      |shw AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12)
      |          AS s
      |        FROM wh JOIN idx ON i <= len(text)-11),
      |szw AS (SELECT doc_id, count(*) AS n FROM shw GROUP BY 1),
      |common AS (SELECT w.doc_id AS id_a, b.doc_id AS id_b,
      |                  count(*) AS c
      |           FROM shw w JOIN shn b ON w.s = b.s
      |           WHERE b.doc_id IN (SELECT doc_id FROM canon)
      |           GROUP BY 1, 2),
      |flagged AS (SELECT DISTINCT id_b FROM common
      |            JOIN szw sa ON sa.doc_id = id_a
      |            JOIN szn sb ON sb.doc_id = id_b
      |            WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7),
      |keep AS (SELECT * FROM canon
      |         WHERE doc_id NOT IN (SELECT id_b FROM flagged))
      |SELECT source, count(*) AS n_docs
      |FROM (SELECT source FROM wh UNION ALL SELECT source FROM keep)
      |GROUP BY 1""".stripMargin
}
