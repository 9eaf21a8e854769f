package graft
package board

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.text.{Bm25Index, QualityClassifier, TextOps}

/** Board queries over document text: statistics, language and quality
  * signals, sampling and mixing, tokenization (vocab, BPE), retrieval
  * (TF-IDF, BM25 and its persisted index) and the extraction gates.
  */
object Text {

  lazy val cases: Seq[Case] = Seq(

    // Text analysis: char/token/punct/stopword census + md5 fingerprint,
    // one codegen'd projection pass.
    Case("q_text_stats", (s, dir) =>
      TextOps.withTextStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"),
                col("n_subwords"), col("n_punct"), col("n_stopwords"),
                col("fingerprint")),
      Some("""SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |       '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')) AS BIGINT)
        |    AS n_subwords,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
        |    AS n_punct,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |    AS n_stopwords,
        |  md5(text) AS fingerprint
        |FROM documents""".stripMargin)),

    // Language-ID heuristic (stopword-hit argmax, deterministic ties)
    Case("q_lang_id", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
                TextOps.langId(col("text")).as("lang_guess")),
      Some("""WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('el','la','de','los','y','que','un'))) AS s_es,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('le','les','et','des','une','dans','pour'))) AS s_fr,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('的','是','了','在','我','有'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |         AND s_en >= s_zh THEN 'en'
        |    WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr
        |         AND s_es >= s_zh THEN 'es'
        |    WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
        |         AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de
        |         AND s_fr >= s_zh THEN 'fr'
        |    WHEN s_zh > 0 AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de
        |         AND s_zh >= s_fr THEN 'zh'
        |    ELSE 'und' END AS lang_guess
        |FROM sc""".stripMargin)),

    // Per-source corpus DATACARD (Gebru et al. 2021): volume, duplicate
    // mass, language mix, token-length median — one datasheet row per
    // source, all from one narrow scan + per-source aggregates.
    Case("q_datacard", (s, dir) =>
      TextOps.dataCard(t(s, dir, "documents")),
      Some("""WITH base AS (
        |  SELECT source, lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS tok,
        |    CAST(len(text) AS BIGINT) AS chars,
        |    md5(text) AS fp
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(tok) AS BIGINT) AS n_tokens,
        |         count(*) - count(DISTINCT fp) AS dup_docs,
        |         count(DISTINCT lang) AS n_langs,
        |         round(avg(chars), 6) AS avg_chars,
        |         round(median(tok), 6) AS med_tokens
        |  FROM base GROUP BY 1),
        |lc AS (SELECT source, lang, count(*) AS n
        |       FROM documents GROUP BY 1, 2),
        |top AS (SELECT source, lang AS top_lang FROM (
        |          SELECT source, lang, row_number() OVER (
        |            PARTITION BY source
        |            ORDER BY n DESC, lang ASC NULLS LAST) AS rn
        |          FROM lc)
        |        WHERE rn = 1)
        |SELECT a.source, a.n_docs, a.n_tokens, a.dup_docs, a.n_langs,
        |       a.avg_chars, a.med_tokens, t.top_lang
        |FROM agg a JOIN top t USING (source)""".stripMargin)),

    // Corpus snapshot diff (day-2): v1 = ids not ≡0 mod 5, v2 = ids not
    // ≡0 mod 7 with every ≡0-mod-3 doc's text amended — per-(source,
    // status) census of added/removed/changed/unchanged + char deltas
    Case("q_corpus_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
               concat(col("text"), lit(" v2"))).otherwise(col("text")))
      TextOps.corpusDiff(v1, v2)
    },
      Some("""WITH o AS (SELECT doc_id, source, md5(text) AS fp,
        |                  coalesce(len(text), 0) AS chars
        |           FROM documents WHERE doc_id % 5 <> 0),
        |n AS (SELECT doc_id, source,
        |             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
        |                      ELSE text END) AS fp,
        |             coalesce(len(CASE WHEN doc_id % 3 = 0
        |                      THEN text || ' v2' ELSE text END), 0) AS chars
        |      FROM documents WHERE doc_id % 7 <> 0),
        |j AS (SELECT o.doc_id AS o_id, n.doc_id AS n_id,
        |             o.source AS o_src, n.source AS n_src,
        |             o.fp AS o_fp, n.fp AS n_fp,
        |             o.chars AS o_chars, n.chars AS n_chars
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT coalesce(n_src, o_src) AS source,
        |       CASE WHEN o_id IS NULL THEN 'added'
        |            WHEN n_id IS NULL THEN 'removed'
        |            WHEN o_fp IS DISTINCT FROM n_fp THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       count(*) AS n_docs,
        |       CAST(sum(coalesce(n_chars, 0) - coalesce(o_chars, 0))
        |            AS BIGINT) AS char_delta
        |FROM j GROUP BY 1, 2""".stripMargin)),

    // Composite quality score
    Case("q_quality_score", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.qualityScore(col("text")).as("quality_score")),
      Some("""SELECT doc_id, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS quality_score
        |FROM documents""".stripMargin)),

    // k-anonymity census release: (source, lang) cells under 10 docs
    // suppress into an '__other__' rollup — total preserved exactly
    Case("q_kanon_census", (s, dir) => {
      val census = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      TextOps.suppressSmallGroups(census, k = 10,
                                  groupCols = Seq("source", "lang"))
    },
      Some("""WITH census AS (SELECT source, lang, count(*) AS n
        |                FROM documents GROUP BY 1, 2),
        |masked AS (SELECT CASE WHEN n < 10 THEN '__other__'
        |                       ELSE source END AS source,
        |                  CASE WHEN n < 10 THEN '__other__'
        |                       ELSE lang END AS lang,
        |                  n
        |           FROM census)
        |SELECT source, lang, CAST(sum(n) AS BIGINT) AS n
        |FROM masked GROUP BY 1, 2""".stripMargin)),

    // PMI collocations: top-20 token pairs by doc-level pointwise
    // mutual information (min pair df 5) — phrase/template discovery
    Case("q_pmi_pairs", (s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"),
                              minPairCount = 5, k = 20),
      Some("""WITH toks AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |          string_split_regex(trim(text), '\s+'), t -> t <> '')))
        |          AS tok
        |        FROM documents),
        |df AS (SELECT tok, count(*) AS d FROM toks GROUP BY 1),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
        |pairs AS (SELECT a.tok AS x, b.tok AS y, count(*) AS n_pair
        |          FROM toks a JOIN toks b
        |            ON a.doc_id = b.doc_id AND a.tok < b.tok
        |          GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT x, y, CAST(n_pair AS BIGINT) AS n_pair,
        |       round(ln(CAST(n_pair AS DOUBLE) * n / (dx.d * dy.d)), 6)
        |         AS pmi
        |FROM pairs JOIN df dx ON dx.tok = x JOIN df dy ON dy.tok = y, nn
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin)),

    // Per-source score calibration: every doc's quality score mapped
    // to its percentile WITHIN its source (percent_rank on the rounded
    // score grid), so one global threshold means the same thing for
    // every source — the FineWeb-style per-dump calibration
    Case("q_score_calibration", (s, dir) =>
      TextOps.calibrateScores(t(s, dir, "documents"),
                              TextOps.qualityScore(col("text"))),
      Some("""WITH s AS (SELECT doc_id, source, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS score
        |FROM documents)
        |SELECT doc_id, source, score,
        |       round(percent_rank() OVER (PARTITION BY source
        |                                  ORDER BY score), 6) AS pct
        |FROM s WHERE score IS NOT NULL""".stripMargin)),

    // Adaptive per-source quality gate: keep docs strictly above their
    // source's exact median score (relative gating for mixed corpora);
    // census per source with the threshold
    Case("q_quality_gate", (s, dir) =>
      TextOps.adaptiveQualityGate(t(s, dir, "documents"), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
             round(max(col("med")), 6).as("med_score")),
      Some("""WITH q AS (SELECT source, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS qs
        |FROM documents),
        |m AS (SELECT source, median(qs) AS med FROM q GROUP BY 1)
        |SELECT q.source AS source, count(*) AS n_kept,
        |       round(max(m.med), 6) AS med_score
        |FROM q JOIN m ON m.source = q.source
        |WHERE q.qs > m.med GROUP BY 1""".stripMargin)),

    // Corpus bigram counts (top-20): the n-gram LM statistic behind
    // vocabulary/fertility analysis. Bigrams form INSIDE the token array
    // (one transform, no positional self-join), then one explode +
    // aggregate with map-side combine
    Case("q_bigrams", (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      // zip the token array against itself shifted by one — a single
      // lockstep walk. (The sequence+element_at formulation cost 4× here:
      // higher-order lambdas are interpreted, so per-element index
      // lookups dominate at corpus scale.)
      val n1 = greatest(size(toks) - 1, lit(0))
      val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
                             (a, b) => concat_ws(" ", a, b))
      t(s, dir, "documents")
        .select(explode(bigrams).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    },
      Some("""WITH tk AS (SELECT list_filter(string_split_regex(trim(text),
        |                                                  '\s+'),
        |                               x -> x <> '') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |                                    i -> toks[i] || ' ' ||
        |                                         toks[i + 1])) AS bigram
        |       FROM tk WHERE len(toks) >= 2)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // Deterministic corpus mixing: cap src0 at 25%, src1 at 50%, drop
    // src2, keep the rest — RNG-free (md5 coin), so the mix is
    // re-derivable and engine-checkable
    Case("q_corpus_mix", (s, dir) =>
      TextOps.mixSample(t(s, dir, "documents"), "source",
                        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept")),
      Some("""SELECT source, count(*) AS kept FROM documents
        |WHERE (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)
        |  < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
        |                 WHEN 'src2' THEN 0.0 ELSE 1.0 END) * 256.0
        |GROUP BY source""".stripMargin)),

    // Stratified sample: EXACTLY 20 docs per source by md5-coin order —
    // the hard-budget mix spec (mixSample's rate cousin); rank <= k on
    // the raw row_number keeps the WindowGroupLimit partial below the
    // exchange (spec-asserted)
    Case("q_stratified_sample", (s, dir) =>
      TextOps.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
                               k = 20)
        .select(col("source"), col("doc_id")),
      Some(stratifiedOracleGen(20))),

    // Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // 100 docs ∝ n_chars via the u^(1/w) key race — one scan + a
    // TakeOrderedAndProject, re-derivable on any retry
    Case("q_weighted_sample", (s, dir) =>
      TextOps.weightedSample(t(s, dir, "documents"), k = 100,
                             idCol = "doc_id", weightCol = "n_chars",
                             seed = "11"),
      Some("""SELECT doc_id, weight, skey FROM (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |         round(pow(
        |           (CAST('0x' || substr(md5('11|' ||
        |              CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5)
        |             / 4503599627370496.0,
        |           1.0 / CAST(n_chars AS DOUBLE)), 9) AS skey
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin)),

    // Bigram-LM corpus scoring (the CCNet perplexity-filter shape,
    // Wenzek et al. LREC'20): train add-α bigram counts (minCount=2
    // prunes the tail and bounds the model), score every document's
    // TOTAL negative log-likelihood (+ n_bigrams, so the mean is
    // derivable). Per-bigram log-probs round to the shared 1e-6 grid
    // BEFORE the sum (the bm25 grid-collapse trick); the sum — never
    // the mean — is what stays off round-half points in both engines
    Case("q_lm_score", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.lmScore(docs, TextOps.lmTrain(docs, minCount = 2L))
    },
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |model AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM model)
        |SELECT b.doc_id,
        |       count(*) AS n_bigrams,
        |       round(-sum(round(ln((coalesce(m.c12, 0) + 0.5) /
        |                           (coalesce(c.c1, 0) + 0.5 * v.v)), 6)),
        |             6) AS nll
        |FROM bg b
        |LEFT JOIN model m USING (w1, w2)
        |LEFT JOIN ctx c USING (w1)
        |CROSS JOIN v
        |GROUP BY 1""".stripMargin)),

    // Temperature-flattened language mix (α=0.5 — the mBERT/XLM-R
    // exponential-smoothing rebalance): census of kept docs per lang
    // with the group's deterministic md5-coin acceptance rate
    Case("q_temperature_mix", (s, dir) =>
      TextOps.temperatureMix(t(s, dir, "documents"), "lang", alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"), max(col("rate")).as("rate")),
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_g
        |           FROM documents
        |           WHERE lang IS NOT NULL AND text IS NOT NULL
        |           GROUP BY 1),
        |t AS (SELECT sum(n_g) AS n_tot, sum(pow(n_g, 0.5)) AS z FROM c),
        |r AS (SELECT lang,
        |             round(least(1.0, pow(n_g, 0.5) / z * n_tot / n_g),
        |                   6) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.lang, count(*) AS kept, max(r.rate) AS rate
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE (strpos('0123456789abcdef', substr(md5(d.text),1,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(d.text),2,1))-1)
        |  < r.rate * 256.0
        |GROUP BY 1""".stripMargin)),

    // Distilled quality classifier (the fastText / FineWeb-Edu filter
    // shape): heuristic labels → 8 rounds of deterministic full-batch GD
    // of a hashed-BoW logistic regression (portable md5-bucket features,
    // per-iteration 1e-9-grid weights, folded into each pass as ONE
    // array literal — no weight-table join) → corpus scores. HASH-EXACT
    // against an unrolled-CTE oracle that re-trains the model in DuckDB —
    // every coefficient is verified end-to-end through the served scores.
    Case("q_quality_classifier", (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id"),
        (TextOps.qualityScore(col("text")) >= 0.5).cast("double").as("y"))
      val w = QualityClassifier.train(docs, labels, dim = 64, iters = 8)
      QualityClassifier.score(docs, w)
    },
      // q_quality_classifier twin: the ENTIRE distilled-classifier
      // pipeline re-trained inside DuckDB — portable md5-prefix feature
      // buckets (Hashing.bucket's OraclePortable form), heuristic
      // quality-score labels, 8 unrolled full-batch GD rounds with
      // per-iteration weights rounded onto the engine's shared 1e-9 grid
      // (the pagerankOracleGen recipe: same double expression tree for the
      // sigmoid/lr arithmetic, grid rounding absorbs exp()/sum-order
      // ulps), then the scoring pass over every tokenized document.
      // Every trained coefficient is verified end-to-end through the
      // served scores. w0 is the empty (all-zero) model, so round 1 falls
      // out of the same step template (margin 0 → residual 0.5 − y).
      Some({
        val (dim, iters, lr) = (64, 8, "2.0")
        def step(i: Int): String =
          s"""m$i AS MATERIALIZED (SELECT f.doc_id, min(f.y) AS y,
             |    sum(f.x * coalesce(w.w, CAST(0.0 AS DOUBLE))) AS m
             |  FROM f LEFT JOIN w${i - 1} w USING (bucket) GROUP BY 1),
             |g$i AS MATERIALIZED (SELECT f.bucket,
             |    sum(f.x * (1.0 / (1.0 + exp(-m.m)) - m.y)) AS g
             |  FROM f JOIN m$i m USING (doc_id) GROUP BY 1),
             |w$i AS MATERIALIZED (SELECT g.bucket,
             |    round(coalesce(w.w, CAST(0.0 AS DOUBLE))
             |          - $lr * g.g / nn.n, 9) AS w
             |  FROM g$i g LEFT JOIN w${i - 1} w USING (bucket)
             |  CROSS JOIN nn)""".stripMargin
        val tokExpr =
          "list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')"
        val head =
          s"""WITH tk AS (SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |                x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |cnts AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(term), 1, 4) AS BIGINT) % $dim
             |      AS bucket,
             |    CAST(count(*) AS DOUBLE) AS cnt
             |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
             |  GROUP BY 1, 2),
             |xs AS MATERIALIZED (SELECT doc_id, bucket,
             |    cnt / sum(cnt) OVER (PARTITION BY doc_id) AS x FROM cnts),
             |qs AS (SELECT doc_id, round(
             |    least(CAST(len($tokExpr) AS DOUBLE) / 100.0, 1.0) * 0.5
             |    + (CAST(len(list_filter(string_split_regex(trim(text),'\\s+'),
             |             x -> x IN ('the','a','of','and','to','in','is')))
             |         AS DOUBLE)
             |       / CAST(greatest(len($tokExpr), 1) AS DOUBLE)) * 0.3
             |    + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
             |                        AS DOUBLE)
             |                   / CAST(greatest(len(text), 1) AS DOUBLE)
             |                   * 10.0, 1.0)) * 0.2, 6) AS q
             |  FROM documents),
             |lab AS (SELECT doc_id,
             |    CASE WHEN q >= 0.5 THEN CAST(1.0 AS DOUBLE)
             |         ELSE CAST(0.0 AS DOUBLE) END AS y
             |  FROM qs WHERE q IS NOT NULL),
             |f AS MATERIALIZED (SELECT xs.doc_id, xs.bucket, xs.x, lab.y
             |      FROM xs JOIN lab USING (doc_id)
             |      UNION ALL
             |      SELECT d.doc_id, CAST($dim AS BIGINT) AS bucket,
             |             CAST(1.0 AS DOUBLE) AS x, lab.y
             |      FROM (SELECT DISTINCT doc_id FROM xs) d
             |      JOIN lab USING (doc_id)),
             |nn AS MATERIALIZED (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
             |         AS n
             |       FROM f),
             |w0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS bucket,
             |              CAST(NULL AS DOUBLE) AS w WHERE false)""".stripMargin
        (Seq(head) ++ (1 to iters).map(step)).mkString(",\n") + "\n" +
          s"""SELECT xs.doc_id,
             |       round(1.0 / (1.0 + exp(-(
             |         sum(xs.x * coalesce(w.w, CAST(0.0 AS DOUBLE)))
             |         + bias.w))), 6) AS p_good
             |FROM xs LEFT JOIN w$iters w USING (bucket)
             |CROSS JOIN (SELECT w FROM w$iters WHERE bucket = $dim) bias
             |GROUP BY xs.doc_id, bias.w""".stripMargin
      })),

    // DSIR data selection (Xie et al. NeurIPS'23): src0 is the trusted
    // reference slice, everything else is the raw crawl; keep the 200
    // raw docs whose hashed-n-gram profile most resembles the target.
    // Both corpus models are ≤ dim-row broadcasts; only (id, bucket, c)
    // triples ever shuffle
    Case("q_dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirSelect(docs.filter(col("source") =!= "src0"),
                         docs.filter(col("source") === "src0"), k = 200)
    },
      Some("""WITH tk AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, source, toks[i] AS gram
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |b AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substr(md5(gram), 1, 4) AS BIGINT) % 1024
        |           AS bucket,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM g GROUP BY 1, 2, 3),
        |cpt AS (SELECT bucket, sum(c) AS cp FROM b
        |        WHERE source = 'src0' GROUP BY 1),
        |cqt AS (SELECT bucket, sum(c) AS cq FROM b
        |        WHERE source <> 'src0' GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cp) FROM cpt) AS tp,
        |               (SELECT sum(cq) FROM cqt) AS tq),
        |lr AS (
        |  SELECT coalesce(cpt.bucket, cqt.bucket) AS bucket,
        |         round(ln((coalesce(cp, 0) + 1) / (tp + 1024.0)) -
        |               ln((coalesce(cq, 0) + 1) / (tq + 1024.0)), 6) AS lr
        |  FROM cpt FULL JOIN cqt ON cpt.bucket = cqt.bucket
        |  CROSS JOIN tot)
        |SELECT b.doc_id, CAST(sum(b.c) AS BIGINT) AS n_grams,
        |       round(sum(b.c * lr.lr), 6) AS logw
        |FROM b JOIN lr ON b.bucket = lr.bucket
        |WHERE b.source <> 'src0'
        |GROUP BY 1
        |ORDER BY logw DESC, doc_id
        |LIMIT 200""".stripMargin)),

    // Deterministic epoch shuffle: every doc's position under the
    // seed-42 permutation. The rank is assembled from range partitions +
    // broadcast offsets — the oracle's naive global window is exactly
    // what the operator exists to avoid
    Case("q_shuffle_order", (s, dir) =>
      TextOps.shuffleOrder(t(s, dir, "documents"), seed = "42"),
      Some("""SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
        |         - 1 AS pos
        |FROM documents""".stripMargin)),

    // Curriculum order (easy→hard by n_chars, 4 tiers, seeded shuffle
    // WITHIN tiers): two rangeRank passes, never a global sort
    Case("q_curriculum", (s, dir) =>
      TextOps.curriculumOrder(t(s, dir, "documents"), "doc_id",
                              "n_chars", nTiers = 4, seed = "7"),
      Some("""WITH r AS (SELECT doc_id,
        |             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |             count(*) OVER () AS n
        |           FROM documents),
        |t AS (SELECT doc_id, CAST((rk * 4) // n AS INTEGER) AS tier FROM r)
        |SELECT doc_id, tier,
        |       row_number() OVER (ORDER BY tier,
        |         md5('7|' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM t""".stripMargin)),

    // Gopher rule report (Rae et al. 2021 A1.1.2): per-doc booleans for
    // the seven format/repetition rules + the conjunction, one narrow
    // scan-speed projection
    Case("q_gopher_rules", (s, dir) =>
      TextOps.gopherRules(t(s, dir, "documents")),
      Some(gopherOracleGen(graft.text.TextOps.GopherThresholds()))),

    // Content-safety blocklist gate (C4 §2.2 bad-words filter /
    // RefinedWeb §3.1 blocklists): distinct blocklisted-term census per
    // doc + gate boolean; the list folds to ONE broadcast row, zero
    // corpus shuffle, exact string matching. Mixed-case/padded terms
    // exercise the normalization contract.
    Case("q_blocklist_gate", (s, dir) => {
      import s.implicits._
      TextOps.blocklistGate(t(s, dir, "documents"),
                            Seq("dup", "vector", " Leak ").toDF("term"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |           string_split_regex(lower(trim(text)), '\s+'),
        |           x -> x <> ''))) AS tok
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, count(*) AS n,
        |         string_agg(tok, ',' ORDER BY tok) AS ht
        |  FROM toks WHERE tok IN ('dup', 'vector', 'leak')
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.ht, '') AS hit_terms,
        |       h.doc_id IS NOT NULL AS blocked
        |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin)),

    // Per-doc curation REASON report (the "why was my doc dropped"
    // audit): C4-style gates — lang allowlist, blocklist, token floor,
    // exact-dup canonical, null text — with a sorted reason list
    Case("q_curation_report", (s, dir) => {
      import s.implicits._
      graft.pipeline.CorpusPipeline.curationReport(
        t(s, dir, "documents"), Seq("dup").toDF("term"),
        langs = Seq("en", "es"), minTokens = 40)
    },
      Some("""WITH blt AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |          string_split_regex(lower(trim(text)), '\s+'),
        |          x -> x <> ''))) AS tok
        |        FROM documents),
        |bl AS (SELECT DISTINCT doc_id FROM blt WHERE tok IN ('dup')),
        |base AS (SELECT doc_id, text IS NOT NULL AS text_ok,
        |                coalesce(lang IN ('en', 'es'), false) AS lang_ok,
        |                coalesce(len(list_filter(
        |                  string_split_regex(trim(text), '\s+'),
        |                  x -> x <> '')) >= 40, false) AS token_floor,
        |                md5(text) AS fp
        |         FROM documents),
        |canon AS (SELECT fp, min(doc_id) AS cid FROM base
        |          WHERE fp IS NOT NULL GROUP BY 1),
        |r AS (SELECT b.doc_id, b.text_ok, b.lang_ok,
        |             bl.doc_id IS NOT NULL AS blocked, b.token_floor,
        |             b.fp IS NULL OR b.doc_id = c.cid AS canonical
        |      FROM base b LEFT JOIN bl ON bl.doc_id = b.doc_id
        |      LEFT JOIN canon c ON c.fp = b.fp)
        |SELECT doc_id, text_ok, lang_ok, blocked, token_floor, canonical,
        |       text_ok AND lang_ok AND NOT blocked AND token_floor
        |         AND canonical AS keep,
        |       coalesce(array_to_string(list_sort(list_filter(
        |         [CASE WHEN NOT text_ok THEN 'null_text' END,
        |          CASE WHEN NOT lang_ok THEN 'lang' END,
        |          CASE WHEN blocked THEN 'blocklist' END,
        |          CASE WHEN NOT token_floor THEN 'short' END,
        |          CASE WHEN NOT canonical THEN 'duplicate' END],
        |         x -> x IS NOT NULL)), ','), '') AS reasons
        |FROM r""".stripMargin)),

    // CCNet head/middle/tail: bigram-LM mean-nll terciles per language
    // (exact percentiles, n_langs-row broadcast back)
    Case("q_perplexity_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.perplexityBuckets(docs, TextOps.lmTrain(docs, minCount = 2L))
    },
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |model AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM model),
        |sc AS (
        |  SELECT b.doc_id,
        |         count(*) AS n_bigrams,
        |         round(-sum(round(ln((coalesce(m.c12, 0) + 0.5) /
        |                             (coalesce(c.c1, 0) + 0.5 * v.v)), 6)),
        |               6) AS nll
        |  FROM bg b
        |  LEFT JOIN model m USING (w1, w2)
        |  LEFT JOIN ctx c USING (w1)
        |  CROSS JOIN v
        |  GROUP BY 1),
        |pp AS (
        |  SELECT s.doc_id, d.lang, s.nll / s.n_bigrams AS ppl
        |  FROM sc s JOIN documents d USING (doc_id)
        |  WHERE d.lang IS NOT NULL),
        |cuts AS (
        |  SELECT lang, quantile_cont(ppl, 1.0/3) AS t1,
        |         quantile_cont(ppl, 2.0/3) AS t2
        |  FROM pp GROUP BY 1)
        |SELECT pp.doc_id, pp.lang, pp.ppl,
        |       CASE WHEN ppl <= t1 THEN 'head'
        |            WHEN ppl <= t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM pp JOIN cuts USING (lang)""".stripMargin)),

    // Token-budget sample: first ~10k tokens of the seed-42 shuffle
    // order, global prefix sum assembled from range partitions +
    // broadcast per-partition totals (integer-exact)
    Case("q_token_budget", (s, dir) =>
      TextOps.tokenBudget(t(s, dir, "documents"), budget = 10000L,
                          seed = "42"),
      Some(tokenBudgetOracleGen(10000L, "42"))),

    // Data-recipe mix: 50/30/20 of a 1500-token budget across three
    // sources, each spent along that source's own seed-42 shuffle order
    // (grouped prefix sums; budgets 750/450/300 land as literals in the
    // oracle)
    Case("q_recipe_mix", (s, dir) =>
      TextOps.recipeMix(t(s, dir, "documents"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        budget = 1500L, seed = "42"),
      Some("""WITH r(source, budget_g) AS (
        |  VALUES ('src0', 750), ('src1', 450), ('src2', 300)),
        |tk AS (
        |  SELECT doc_id, source,
        |         coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS n_tokens
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |o AS (
        |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
        |           - 1 AS pos_g,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM tk)
        |SELECT o.doc_id, o.source, o.pos_g, o.n_tokens, o.cum_tokens
        |FROM o JOIN r ON o.source = r.source
        |WHERE o.cum_tokens <= r.budget_g""".stripMargin)),

    // Balanced shard export: 8 equal-token shards along the seed-42
    // shuffle order, written as partition dirs, census read back from
    // disk (token-mass boundaries — doc-count striping would let long
    // docs unbalance shards)
    Case("q_shard_export", (s, dir) => {
      val path = scratch(dir, "shard_export")
      val docs = t(s, dir, "documents")
      val assigned = TextOps.shardAssign(docs, nShards = 8, seed = "42")
      Sinks.writePartitioned(
        assigned.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
        "shard", path)
      Tables.read(s, path)
        // the partition dir reads back as int; the oracle census is long
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    },
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |         coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST((SELECT sum(n_tokens) FROM tk) AS BIGINT) AS total
        |  FROM tk)
        |SELECT least(cum_before * 8 // total, 7) AS shard,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM o
        |GROUP BY 1""".stripMargin)),

    // Sequence packing: chunk stream → 512-token bins, sequential within
    // each language (per-key window, never a global sort)
    Case("q_pack_chunks", (s, dir) => {
      val docs = t(s, dir, "documents")
      val chunks = TextOps.chunkDocs(docs, "text", chunkTokens = 50,
                                     overlap = 10)
      val keyed = chunks.join(docs.select(col("doc_id"), col("lang")),
                              "doc_id")
      TextOps.packChunks(keyed, "lang", Seq("doc_id", "chunk_idx"),
                         "chunk_tokens", budget = 512)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_chunks"),
             sum(col("chunk_tokens")).as("bin_tokens"))
    },
      Some("""WITH tk AS (SELECT doc_id, lang,
        |              list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> x <> '') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT unnest(range(0,
        |    (SELECT CAST(max(len(toks)) AS BIGINT) FROM tk), 40)) AS s),
        |chunks AS (SELECT doc_id, lang, CAST(s // 40 AS BIGINT) AS chunk_idx,
        |             CAST(least(len(toks) - s, 50) AS BIGINT) AS chunk_tokens
        |           FROM tk JOIN idx ON (s = 0 OR s < len(toks) - 10)),
        |packed AS (SELECT lang, chunk_tokens,
        |             sum(chunk_tokens) OVER (
        |               PARTITION BY lang ORDER BY doc_id, chunk_idx
        |               ROWS UNBOUNDED PRECEDING) AS cum
        |           FROM chunks),
        |binned AS (SELECT lang, chunk_tokens,
        |             CAST((cum - chunk_tokens) // 512 AS BIGINT) AS bin
        |           FROM packed)
        |SELECT lang, bin, count(*) AS n_chunks,
        |       CAST(sum(chunk_tokens) AS BIGINT) AS bin_tokens
        |FROM binned GROUP BY 1, 2""".stripMargin)),

    // Top-3 TF-IDF terms per document (keyword extraction for domain
    // tagging / corpus mixing); ranked by rounded score then term for a
    // deterministic engine-portable selection
    Case("q_tfidf", (s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
                            k = 3),
      Some("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1,2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |                  round(tf * ln(CAST(n AS DOUBLE)/df), 6) AS tfidf
        |           FROM tf JOIN dfreq USING (term), n),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3""".stripMargin)),

    // Length-bucketed batching (dynamic-batching layout): global
    // (length, id) rank without a global sort → 32-seq batches →
    // per-batch padding report.
    Case("q_length_batches", (s, dir) =>
      TextOps.lengthBatches(t(s, dir, "documents"), batchSize = 32),
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |         CAST(coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS pos
        |      FROM tk)
        |SELECT pos // 32 AS batch_id,
        |       count(*) AS n_seqs,
        |       min(n_tokens) AS min_tokens,
        |       max(n_tokens) AS max_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CASE WHEN max(n_tokens) = 0 THEN 0.0
        |            ELSE round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
        |                   / (max(n_tokens) * count(*)), 6) END
        |         AS padding_frac
        |FROM r GROUP BY 1""".stripMargin)),

    // Deterministic hash-based train/val/test split (content-derived,
    // RNG-free, reproducible across engines — the split assignment plus
    // the per-split census)
    Case("q_train_split", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.trainSplit(col("text")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs")),
      Some("""SELECT CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train'
        |            WHEN substr(md5(text), 1, 1) = 'e' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin)),

    // trainSplit's generalization: caller-chosen fractions at 1/65536
    // coin granularity (thresholds computed once driver-side, embedded
    // as the same literals in the oracle — engine float arithmetic
    // never decides a document)
    Case("q_split_fractions", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(TextOps.splitByFractions(col("text"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .agg(count(lit(1)).as("n_docs")),
      // thresholds 58982/62259 = floor(cum * 65536) for 0.9/0.05/0.05,
      // the exact doubles splitByFractions computes driver-side
      Some("""SELECT CASE WHEN c < 58982 THEN 'train'
        |            WHEN c < 62259 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM (SELECT CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) AS c
        |      FROM documents) GROUP BY 1""".stripMargin)),

    // Okapi BM25 top-10 for a fixed query-term set — retrieval-scored
    // corpus mining (per-term weights rounded to 1e-6 pre-sum; ranking by
    // rounded score then id is a deterministic total order)
    Case("q_bm25", (s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"),
                       Seq("spark", "vector", "stream"), k = 10),
      Some("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
        |SELECT doc_id, round(sum(w), 6) AS bm25
        |FROM w GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin)),

    // The same ranking SERVED off the persisted inverted index: build
    // on the even half, append the odd half (two epochs), probe — must
    // equal the from-scratch q_bm25 chain bit-for-bit (exact additive
    // stats + the shared 1e-6 grid), certifying build+append+probe
    Case("q_bm25_index", (s, dir) => {
      val root = scratch(dir, "bm25index")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
      Bm25Index.build(docs.filter(col("doc_id") % 2 === 0), root,
                      buckets = 4)
      Bm25Index.append(docs.filter(col("doc_id") % 2 =!= 0), root)
      Bm25Index.probe(s, root, Seq("spark", "vector", "stream"), k = 10)
    },
      // the index serves the same math over the same corpus, so the
      // oracle is the q_bm25 recompute verbatim — certifying that two
      // epochs of build+append serve exactly one from-scratch pass
      Some("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
        |SELECT doc_id, round(sum(w), 6) AS bm25
        |FROM w GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin)),

    // Batched serving: a query TABLE against the same index in one
    // pass — per-query top-5 with ranks, df/idf shared across queries
    Case("q_bm25_batch", (s, dir) => {
      import s.implicits._
      val root = scratch(dir, "bm25batch")
      Sinks.dropTable(s, root)
      // the operator under test is the batched SERVE — index the mod-4
      // quarter (the oracle recomputes over the same slice; the BUILD
      // machinery's full-corpus cost rides q_bm25_index, whose
      // append-equals-from-scratch certification needs the whole
      // corpus — this demo only needs a store to probe)
      Bm25Index.build(t(s, dir, "documents")
                        .filter(col("doc_id") % 4 === 0), root,
                      buckets = 4)
      val q = Seq(1 -> "spark", 1 -> "stream", 2 -> "vector",
                  3 -> "spark", 3 -> "vector", 3 -> "stream")
        .toDF("query_id", "term")
      Bm25Index.batchProbe(q, root, k = 5)
    },
      // per-query recompute of the same math; df/idf are per-term
      // globals shared across queries, rank = row_number per query
      Some("""WITH q(query_id, term) AS (VALUES
        |    (1, 'spark'), (1, 'stream'), (2, 'vector'),
        |    (3, 'spark'), (3, 'vector'), (3, 'stream')),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents WHERE doc_id % 4 = 0),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN (SELECT DISTINCT term FROM q)
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT q.query_id, tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
        |        JOIN q USING (term), stats),
        |s AS (SELECT query_id, doc_id, round(sum(w), 6) AS bm25
        |      FROM w GROUP BY 1, 2)
        |SELECT query_id, doc_id, bm25, rank FROM
        |  (SELECT query_id, doc_id, bm25,
        |     CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
        |   FROM s)
        |WHERE rank <= 5""".stripMargin)),

    // Vocabulary: corpus token frequencies + deterministic id assignment
    Case("q_vocab", (s, dir) =>
      TextOps.buildVocab(t(s, dir, "documents"), minCount = 5L),
      Some("""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |             AS token
        |           FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM t
        |      WHERE token <> '' GROUP BY token HAVING count(*) >= 5)
        |SELECT token, freq,
        |       CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
        |            AS BIGINT) AS token_id
        |FROM f""".stripMargin)),

    // BPE merge training (Sennrich ACL'16): 16 highest-frequency-pair
    // merges over the word-frequency frame — the corpus collapses into
    // the distinct vocabulary in ONE pass, rounds run on that tiny
    // frame only. Oracle-EXACT (r7): the fixed merge count unrolls to
    // 16 generated MATERIALIZED-CTE rounds (bpeOracle) — recursive CTEs
    // forbid aggregation in the recursive term, but an UNROLLED chain
    // doesn't need one. Determinism, the hand-computed classic example,
    // encode∘decode=id, and monotone compression stay spec-asserted
    // (BpeSpec)
    Case("q_bpe_vocab", (s, dir) =>
      graft.text.Bpe.bpeTrain(t(s, dir, "documents"), "text",
                              numMerges = 16),
      // 16 unrolled BPE merge rounds (bpeOracle) — the greedy merge fold's
      // exact positional twin; formerly "iterative argmax isn't
      // SQL-expressible", which was true only of RECURSIVE CTEs
      Some(bpeOracle)),

    // BPE ENCODE — apply the trained merge table to every document
    // (the subword-tokenize step a training pipeline runs over the
    // whole corpus for budget accounting and packing). The merge table
    // folds into the projection as literals (broadcast-codebook
    // discipline — no join, no corpus shuffle, one narrow pass).
    // Oracle-EXACT (r8): training's per-round vocab evolution IS the
    // greedy encode of every distinct word (same mergePair fold), so
    // the bpeOracle chain's final wf16, with word identity threaded
    // through, maps word → final symbols; the twin flattens them back
    // in token order per doc. Encode∘decode=id stays spec-pinned
    // (BpeSpec).
    Case("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.bpeTrain(docs, "text", numMerges = 16)
      graft.text.Bpe.bpeEncode(
          docs.filter(TextOps.tokenCount(col("text")) > 0),
          "doc_id", "text", merges)
        .select(col("doc_id"), size(col("bpe")).cast("long").as("n_bpe"),
                concat_ws(" ", col("bpe")).as("bpe_text"))
    },
      Some(bpeEncodeOracle)),

    // Vocabulary APPLICATION — encode every document against the built
    // vocab (the corpus → token-id step before training). The vocab side
    // broadcasts (distinct tokens ≪ corpus); OOV tokens count but don't
    // sum. Output is per-doc token accounting + an id checksum so the
    // whole encoding is hash-verifiable without array-output compare.
    Case("q_encode_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.buildVocab(docs, minCount = 5L)
      docs.select(col("doc_id"),
                  explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .join(broadcast(vocab.select(col("token"), col("token_id"))),
              Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             count(col("token_id")).as("n_in_vocab"),
             sum(col("token_id")).as("id_checksum"))
    },
      Some("""WITH toks AS (SELECT doc_id,
        |                     unnest(string_split_regex(trim(text), '\s+'))
        |                       AS token
        |              FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM toks
        |      WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
        |v AS (SELECT token,
        |             CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
        |                  AS BIGINT) AS token_id
        |      FROM f)
        |SELECT t.doc_id,
        |       count(*) AS n_tokens,
        |       count(v.token_id) AS n_in_vocab,
        |       CAST(sum(v.token_id) AS BIGINT) AS id_checksum
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |WHERE t.token <> ''
        |GROUP BY t.doc_id""".stripMargin)),

    // Context-window chunking: overlapping 50-token windows, 10 overlap
    Case("q_chunk_docs", (s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents"), "text",
                        chunkTokens = 50, overlap = 10),
      Some(chunkDocsOracleGen(50, 10))),

    // Text normalization: lowercase, strip punctuation, collapse
    // whitespace — the canonical pre-tokenization cleanup pass, one
    // codegen'd projection
    Case("q_normalize_text", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                regexp_replace(
                  regexp_replace(lower(col("text")), "[.,!?;:]", ""),
                  "\\s+", " ").as("norm_text")),
      Some("""SELECT doc_id,
        |       regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '',
        |                                     'g'),
        |                      '\s+', ' ', 'g') AS norm_text
        |FROM documents""".stripMargin)),

    // WET-style markup strip: tags → space, the 5 standard entities
    // (&amp; decoded LAST — no double-decode), whitespace-run collapse;
    // the pre-gate extraction step, one narrow codegen'd projection
    Case("q_strip_markup", (s, dir) =>
      TextOps.stripMarkup(t(s, dir, "documents")),
      // same lexical rule chain as TextOps.stripMarkup: tags → space,
      // entities with &amp; last, explicit ws class (Java/RE2-portable)
      Some("""WITH c AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       CAST(len(text) - len(clean_text) AS BIGINT) AS chars_removed
        |FROM c""".stripMargin)),

    // Encoding-sanity census + gate: U+FFFD / C0-control / mojibake-
    // digraph counts as length-difference arithmetic over literal
    // replaces (engine-portable exactly); ok = all three zero
    Case("q_encoding_gate", (s, dir) =>
      TextOps.encodingGate(t(s, dir, "documents")),
      // length-difference counting over the SAME literal markers the
      // engine uses (interpolated from one definition, so they cannot
      // drift); // is DuckDB integer division
      Some(s"""WITH c AS (SELECT doc_id,
         |  CAST(len(text) - len(replace(text, '$Fffd', ''))
         |    AS BIGINT) AS n_fffd,
         |  CAST(len(text) - len(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
         |    AS BIGINT) AS n_ctrl,
         |  CAST($mojiSqlSum AS BIGINT) AS n_moji
         |  FROM documents)
         |SELECT doc_id, n_fffd, n_ctrl, n_moji,
         |       (n_fffd = 0 AND n_ctrl = 0 AND n_moji = 0) AS encoding_ok
         |FROM c""".stripMargin)),

    // Unicode script census: per-doc Latin/Cyrillic/CJK/digit/space
    // counts + dominant script — the per-script routing gate ahead of
    // language-specific stages; explicit code-point ranges (portable)
    Case("q_script_census", (s, dir) =>
      TextOps.scriptCensus(t(s, dir, "documents")),
      // same explicit code-point ranges as TextOps.scriptCensus (RE2's
      // \x{...} spelling of the identical classes); ties latin>cyrl>cjk
      Some("""WITH c AS (SELECT doc_id, text,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrl,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g'))
        |    AS BIGINT) AS n_cjk,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[ \t\n\x0B\f\r]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents)
        |SELECT doc_id, n_latin, n_cyrl, n_cjk, n_digit, n_space,
        |  CAST(len(text) AS BIGINT) - n_latin - n_cyrl - n_cjk
        |    - n_digit - n_space AS n_other,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN n_latin = 0 AND n_cyrl = 0 AND n_cjk = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrl AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrl >= n_cjk THEN 'cyrl'
        |       ELSE 'cjk' END AS main_script
        |FROM c""".stripMargin)),

    // Extraction-front flagship: stripMarkup → encodingGate →
    // scriptCensus(latin) → min-token floor on the CLEANED text, the
    // raw-crawl prefix of every corpus recipe — one zero-shuffle
    // codegen'd pass per document, stream-composable (gates stateless)
    Case("q_extract_pipeline", (s, dir) =>
      TextOps.extractionPipeline(t(s, dir, "documents"),
                                 minTokens = 50L),
      // the full gate chain over the STRIPPED text — each stage the same
      // rule its standalone oracle uses (strip / encoding / script /
      // whitespace tokens), composed the way the engine composes them
      Some(s"""WITH stripped AS (SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |      '&amp;', '&'),
         |    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text
         |  FROM documents),
         |enc AS (SELECT doc_id FROM stripped
         |  WHERE len(text) - len(replace(text, '$Fffd', '')) = 0
         |    AND len(text) - len(regexp_replace(text,
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) = 0
         |    AND $mojiSqlSum = 0),
         |scr AS (SELECT doc_id FROM (
         |    SELECT doc_id,
         |      len(text) - len(regexp_replace(text,
         |        '[A-Za-z\\x{00C0}-\\x{024F}]', '', 'g')) AS n_latin,
         |      len(text) - len(regexp_replace(text,
         |        '[\\x{0400}-\\x{04FF}]', '', 'g')) AS n_cyrl,
         |      len(text) - len(regexp_replace(text,
         |        '[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]', '', 'g'))
         |        AS n_cjk
         |    FROM stripped)
         |  WHERE NOT (n_latin = 0 AND n_cyrl = 0 AND n_cjk = 0)
         |    AND n_latin >= n_cyrl AND n_latin >= n_cjk),
         |tok AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |             x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM stripped)
         |SELECT s.doc_id, t.n_tokens
         |FROM stripped s JOIN enc USING (doc_id) JOIN scr USING (doc_id)
         |  JOIN tok t USING (doc_id)
         |WHERE t.n_tokens >= 50""".stripMargin)),

    // Gopher-style repetition gates: most-repeated-token share +
    // duplicate-line fraction, both narrow array projections (no explode)
    Case("q_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                round(TextOps.topTokenRatio(col("text")), 6)
                  .as("rep_ratio"),
                round(TextOps.dupLineFraction(col("text")), 6)
                  .as("dup_line_frac")),
      // list-level twin of the narrow array expressions (same int/int
      // division chain, so the doubles agree bit-for-bit before round)
      Some("""WITH t AS (SELECT doc_id, text,
        |                  list_filter(string_split_regex(trim(text), '\s+'),
        |                              x -> x <> '') AS toks,
        |                  list_filter(string_split(text, chr(10)),
        |                              l -> l <> '') AS lines
        |           FROM documents)
        |SELECT doc_id,
        |       round(CASE WHEN len(toks) > 0
        |               THEN CAST(list_max(list_transform(list_distinct(toks),
        |                      t -> len(list_filter(toks, x -> x = t))))
        |                    AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |               ELSE NULL END, 6) AS rep_ratio,
        |       round(CASE WHEN len(lines) > 0
        |               THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
        |                          / CAST(len(lines) AS DOUBLE)
        |               WHEN text IS NOT NULL THEN 0.0
        |               ELSE NULL END, 6) AS dup_line_frac
        |FROM t""".stripMargin)),

    // Compression-ratio quality census (deflate_len native expression —
    // the machine-generated/boilerplate filter of the web-corpus
    // recipes, catching long-period and structural repeats the n-gram
    // censuses above miss; CompressExpressions scaladoc for the
    // thread-local zlib amortization). Rows-only: the JDK zlib byte
    // count has no DuckDB identity — CompressSpec pins planted
    // repetitive/high-entropy fixtures, null handling, and the
    // codegen ≡ interpreted contract instead.
    Case("q_compress_ratio", (s, dir) => {
      import graft.functions.CompressExpressions
      val ratio =
        (CompressExpressions.deflateLen(col("text")).cast("double") /
          octet_length(col("text"))).as("ratio")
      t(s, dir, "documents")
        .filter(col("text").isNotNull && octet_length(col("text")) > 0)
        .select(col("doc_id"), ratio)
        .withColumn("band",
          when(col("ratio") < 0.35, "repetitive")
            .when(col("ratio") < 0.8, "normal")
            .otherwise("high_entropy"))
        .groupBy("band")
        .agg(count(lit(1)).as("docs"),
             round(avg("ratio"), 6).as("avg_ratio"),
             round(min("ratio"), 6).as("min_ratio"),
             round(max("ratio"), 6).as("max_ratio"))
    },
      None),

    // PII scrub (the pre-training redaction pass): match counts + the
    // redacted text itself, engine-portable regexes
    Case("q_pii_redact", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.piiCount(col("text")).as("n_pii"),
                TextOps.redactPii(col("text")).as("redacted")),
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |       len(regexp_extract_all(text,
        |         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>',
        |      'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<phone>', 'g') AS redacted
        |FROM documents""".stripMargin)),

    // Per-source frequency cap (C4/FineWeb domain capping): survivors
    // elected by seeded deterministic coin, WindowGroupLimit keeps the
    // shuffle at <= cap rows per (map task, source)
    Case("q_source_cap", (s, dir) =>
      TextOps.sourceCap(t(s, dir, "documents"), cap = 20),
      // survivors of the per-source cap: same md5 coin, same tie-break
      Some("""SELECT doc_id, source, CAST(rn AS BIGINT) AS cap_rank
        |FROM (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id)
        |          AS rn
        |      FROM documents) t
        |WHERE rn <= 20""".stripMargin))
  )

  /** Literal chars for the encoding-gate oracle, kept as escapes in
    * ordinary strings (triple-quoted Scala strings don't process \u
    * escapes) and interpolated into the SQL so both engines test the
    * byte-identical markers.
    */
  private val Fffd = "\uFFFD"
  private val MojiMarkers = Seq("\u00C3\u00A9", "\u00C3\u00A8",
                                "\u00C3\u00BC", "\u00C3\u00A4",
                                "\u00E2\u20AC")
  private def mojiSqlSum: String = MojiMarkers
    .map(m => s"(len(text) - len(replace(text, '$m', ''))) // ${m.length}")
    .mkString(" + ")

  /** q_bpe_vocab twin: 16 unrolled BPE merge rounds. The engine's
    * left-to-right greedy merge fold ("a symbol just produced does not
    * re-merge", Bpe.mergePair) has an exact positional equivalent: a
    * match position is TAKEN iff its offset within its maximal run of
    * consecutive match positions is even — so each round is pair-count
    * → argmax (freq desc, left, right — the engine's tie order) →
    * gaps-and-islands over match positions → rebuild. Round CTEs are
    * MATERIALIZED: wf{i} is referenced three times per round, and
    * inlined expansion grows 3^16 (measured: DuckDB exhausts file
    * handles); materialization is also the semantic twin of the
    * engine's per-round localCheckpoint. Early-stop (fully fused
    * corpus) never fires at 16 merges on this fixture.
    */
  private val (bpeOracle, bpeEncodeOracle): (String, String) = {
    val k = 16
    def rnd(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT s.sym[j] AS l, s.sym[j+1] AS r, sum(s.cnt) AS freq
         |  FROM wf$i s, LATERAL (SELECT unnest(range(1, len(s.sym))) AS j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r FROM p$i
         |  ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
         |e$i AS (SELECT s.rn AS wid, s.word, s.cnt, j.j AS pos,
         |    s.sym[j.j] AS sym,
         |    CASE WHEN j.j < len(s.sym) AND s.sym[j.j] = b.l
         |          AND s.sym[j.j+1] = b.r THEN 1 ELSE 0 END AS m
         |  FROM wf$i s, b$i b,
         |       LATERAL (SELECT unnest(range(1, len(s.sym)+1)) AS j) j),
         |g$i AS (SELECT *, pos - row_number()
         |    OVER (PARTITION BY wid, m ORDER BY pos) AS grp FROM e$i),
         |v$i AS (SELECT *, CASE WHEN m = 1 AND
         |      (pos - min(pos) OVER (PARTITION BY wid, grp, m)) % 2 = 0
         |    THEN 1 ELSE 0 END AS valid FROM g$i),
         |x$i AS (SELECT wid, word, cnt, pos,
         |    CASE WHEN valid = 1 THEN sym ||
         |      lead(sym) OVER (PARTITION BY wid ORDER BY pos)
         |    ELSE sym END AS osym,
         |    CASE WHEN lag(valid) OVER (PARTITION BY wid ORDER BY pos) = 1
         |    THEN 1 ELSE 0 END AS consumed
         |  FROM v$i),
         |wf${i + 1} AS MATERIALIZED (SELECT row_number() OVER () AS rn,
         |    any_value(word) AS word, list(osym ORDER BY pos) AS sym,
         |    any_value(cnt) AS cnt
         |  FROM x$i WHERE consumed = 0 GROUP BY wid)""".stripMargin
    val head =
      """WITH wrds AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text),
        |                                                 '\s+'),
        |                              x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1),
        |wf0 AS MATERIALIZED (SELECT row_number() OVER () AS rn, word,
        |    list_transform(range(1, len(word)+1),
        |                   i -> substr(word, CAST(i AS INT), 1)) AS sym,
        |    cnt
        |  FROM wrds)""".stripMargin
    val out = (0 until k).map { i =>
      s"""SELECT $i AS rank, b.l AS "left", b.r AS "right",
         |CAST(p.freq AS BIGINT) AS freq
         |FROM b$i b JOIN p$i p ON p.l = b.l AND p.r = b.r""".stripMargin
    }.mkString("\nUNION ALL ")
    val chain = (Seq(head) ++ (0 until k).map(rnd)).mkString(",\n")
    (chain + "\n" + out,
     chain + ",\n" +
       s"""tk2 AS (SELECT doc_id,
          |    list_filter(string_split_regex(trim(text), '\\s+'),
          |                x -> x <> '') AS toks
          |  FROM documents WHERE text IS NOT NULL),
          |tok AS (SELECT doc_id, i, toks[i] AS word
          |        FROM tk2, unnest(range(1, len(toks)+1)) AS u(i)
          |        WHERE len(toks) > 0),
          |enc AS (SELECT word, sym FROM wf$k),
          |fl AS (SELECT t.doc_id, t.i, j.j, e.sym[j.j] AS s
          |       FROM tok t JOIN enc e USING (word),
          |            LATERAL (SELECT unnest(range(1, len(e.sym)+1))
          |                     AS j) j)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
          |       array_to_string(list(s ORDER BY i, j), ' ') AS bpe_text
          |FROM fl GROUP BY 1""".stripMargin)
  }

  /** Parameterized q_stratified_sample twin (board: k=20). */
  private[graft] def stratifiedOracleGen(k: Int): String =
    s"""SELECT source, doc_id FROM (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $k""".stripMargin

  /** Parameterized q_token_budget twin (board: 10000 tokens, seed 42). */
  private[graft] def tokenBudgetOracleGen(budget: Long,
                                          seed: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         coalesce(len(list_filter(
       |           string_split_regex(trim(text), '\\s+'),
       |           x -> x <> '')), 0) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         row_number() OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id)
       |           - 1 AS pos,
       |         CAST(sum(n_tokens) OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM tk)
       |SELECT doc_id, pos, n_tokens, cum_tokens
       |FROM o WHERE cum_tokens <= $budget""".stripMargin

  /** Parameterized shard-census twin (board q_shard_export: 8 shards,
    * seed 42 — the fuzz family censuses shardAssign directly, no sink).
    */
  private[graft] def shardCensusOracleGen(nShards: Int,
                                          seed: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         coalesce(len(list_filter(
       |           string_split_regex(trim(text), '\\s+'),
       |           x -> x <> '')), 0) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS cum_before,
       |         CAST((SELECT sum(n_tokens) FROM tk) AS BIGINT) AS total
       |  FROM tk)
       |SELECT least(cum_before * $nShards // total, ${nShards - 1})
       |         AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM o
       |GROUP BY 1""".stripMargin

  /** Parameterized q_chunk_docs twin (board: 50-token windows, overlap
    * 10 — stride 40). The chunk string is coalesced to '': a ZERO-token
    * document's single chunk is the join of zero tokens — '' in the
    * engine (concat_ws) — but DuckDB's array_to_string returns NULL for
    * an empty slice (r9 perturbation-fuzz finding; the board corpus has
    * no tokenless docs, so the fixture never reached the seam).
    */
  private[graft] def chunkDocsOracleGen(size: Int, overlap: Int): String = {
    val stride = size - overlap
    s"""WITH tk AS (SELECT doc_id,
       |              list_filter(string_split_regex(trim(text), '\\s+'),
       |                          x -> x <> '') AS toks
       |            FROM documents WHERE text IS NOT NULL),
       |idx AS (SELECT unnest(range(0,
       |    (SELECT CAST(max(len(toks)) AS BIGINT) FROM tk), $stride)) AS s)
       |SELECT doc_id, CAST(s // $stride AS BIGINT) AS chunk_idx,
       |       coalesce(array_to_string(toks[CAST(s+1 AS INTEGER):
       |                            CAST(s+$size AS INTEGER)], ' '), '')
       |         AS chunk,
       |       CAST(least(len(toks) - s, $size) AS BIGINT) AS chunk_tokens
       |FROM tk JOIN idx ON (s = 0 OR s < len(toks) - $overlap)""".stripMargin
  }

  /** Parameterized q_gopher_rules twin (board: the published Rae et al.
    * constants, `GopherThresholds()`'s defaults). The rule expressions
    * are fixed; only the cut literals move with the config.
    */
  private[graft] def gopherOracleGen(
      t: graft.text.TextOps.GopherThresholds): String = {
    val rules = Seq(
      s"coalesce(nw0 BETWEEN ${t.minWords} AND ${t.maxWords}, false)" ->
        "r_word_count",
      s"coalesce(sumlen / nw BETWEEN ${t.wordLenLo} AND ${t.wordLenHi}," +
        " false)" -> "r_mean_word_len",
      s"coalesce(symbols / nw <= ${t.maxSymbolRatio}, false)" ->
        "r_symbol_ratio",
      s"coalesce(bullets / nl < ${t.maxBulletFrac}, false)" ->
        "r_bullet_lines",
      s"coalesce(ellips / nl < ${t.maxEllipsisFrac}, false)" ->
        "r_ellipsis_lines",
      s"coalesce(alphas / nw >= ${t.minAlphaFrac}, false)" ->
        "r_alpha_words",
      s"coalesce(stops >= ${t.minStopwords}, false)" -> "r_stopwords")
    """WITH f AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     x -> x <> '') AS toks,
      |         list_filter(string_split(text, chr(10)),
      |                     l -> trim(l) <> '') AS lines,
      |         text
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(toks) AS nw0,
      |         nullif(CAST(len(toks) AS DOUBLE), 0) AS nw,
      |         nullif(CAST(len(lines) AS DOUBLE), 0) AS nl,
      |         CAST(list_sum(list_transform(toks, t -> length(t)))
      |              AS DOUBLE) AS sumlen,
      |         len(regexp_extract_all(text, '#|\.\.\.')) AS symbols,
      |         len(list_filter(lines,
      |             l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullets,
      |         len(list_filter(lines, l -> l LIKE '%...')) AS ellips,
      |         len(list_filter(toks,
      |             t -> regexp_matches(t, '[A-Za-z]'))) AS alphas,
      |         len(list_intersect(
      |             list_distinct(list_transform(toks, t -> lower(t))),
      |             ['the','be','to','of','and','that','have','with']))
      |           AS stops
      |  FROM f)
      |SELECT doc_id,
      |""".stripMargin +
      rules.map { case (e, n) => s"  $e AS $n," }.mkString("\n") + "\n" +
      rules.map(_._1).mkString("  ", "\n    AND ", " AS pass") +
      "\nFROM m"
  }
}
