package graft.tools

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, Session, Tables, Verify}
import graft.board.{Analytics, Ann, Dedup, Parity, Text}
import graft.dedup.DedupOps
import graft.similarity.SimilarityOps
import graft.tpch.TpchGen

/** Parameter-space differential fuzzer vs the DuckDB oracle.
  *
  * The board (`SparkEntry.queries`/`oracleSql`) pins each operator at ONE
  * parameter point; the r8 adversarial sweep showed latent defects live at
  * parameter boundaries (τ·sz integral, prefix-length ±1, gate seams).
  * This main draws N random configurations across the oracle-twinned
  * operator families, runs the Spark side, and emits the driver-compatible
  * layout (`<out>/<name>` parquet + `<out>/oracle_sql.json`) so
  * `tools/local_check.py` hash-compares every configuration exactly the way
  * the driver's correctness gate does. Where a board query is
  * parameterized, both sides come from the SAME builders the board pins:
  * the `*Gen` / `*OracleGen` pairs beside their cases in the `graft.board`
  * domain objects, and `tpch.TpchGen`, whose `board` list IS the 22 TPC-H
  * board queries — one definition, no drift.
  *
  * 45 families: the TPC-H bank rides three (tpch_a/b/c) drawing the
  * spec's public substitution parameters, and the analytic families
  * (scd2 / attribution / funnel / asof / pagerank / ...) ride the
  * parameterized shared gens. Most families also draw whether to
  * perturb their corpus: each of the eight tables with crafted rows
  * (documents, events, lineitem, orders, customer, supplier, part,
  * embeddings) is one `Crafted(table, schema, rows)` declaration, and
  * one `Pert` (the set of perturbed tables) derives both sides from it —
  * the rows unioned into the Spark frame, and a `p<table>` CTE of the
  * same rows as DuckDB VALUES in the oracle.
  *
  * Usage: runMain graft.tools.Fuzz <sfDir> <outDir> <nConfigs> <seed>
  *        [families]   (comma-separated subset, default all)
  *
  * Determinism: every parameter draw comes from ONE seeded Random, consumed
  * in a fixed order per case, so (seed, n, families) reproduces the sweep
  * exactly; the manifest records each case's parameters for single-case
  * replay.
  */
object Fuzz {

  final case class FuzzCase(name: String, family: String, params: String,
                            run: (SparkSession, String) => DataFrame,
                            sql: String)

  // ---- parameter draws -----------------------------------------------

  private def tauGrid(r: Random, lo: Int = 10, hi: Int = 19): Double =
    (lo + r.nextInt(hi - lo + 1)) / 20.0 // 0.05 grid: exact decimal text

  private def sliceRel(m: Int, rem: Int): String =
    if (m <= 1) "documents"
    else s"(SELECT * FROM documents WHERE doc_id % $m = $rem)"

  // ---- corpus perturbation -------------------------------------------
  // Each corpus is one `Crafted` record: the fixture table's columns
  // (names and types, in file order) and the degenerate rows injected on
  // BOTH sides of a perturbed case. `Pert.load` unions the rows into the
  // Spark frame; `Pert.wrap` retargets the oracle to a `p<table>` CTE =
  // base UNION ALL the same rows as DuckDB VALUES. The operators claim
  // totality over these shapes (the r8 hardening sweep); perturbation
  // makes every fuzzed configuration re-prove it against DuckDB.

  private[tools] final case class Crafted(table: String, schema: StructType,
                                          rows: Seq[Seq[Any]]) {
    /** The rows as DuckDB VALUES tuples, each NULL cast to its column's
      * type.
      */
    def valuesSql: String = rows.map(_.zip(schema.map(_.dataType)).map {
      case (null, t) => s"CAST(NULL AS ${duckType(t)})"
      case (v: String, TimestampType | TimestampNTZType) => s"TIMESTAMP '$v'"
      case (v: String, _) => "'" + v.replace("'", "''") + "'"
      case (v: Array[Float], _) =>
        v.map(x => f"$x%.1f").mkString("CAST([", ", ", "] AS FLOAT[])")
      case (v, _) => v.toString
    }.mkString("(", ", ", ")")).mkString(", ")

    /** The rows as a Spark frame of exactly `schema`: timestamp text is
      * cast to its column's own type, so the union with the fixture
      * table keeps every column's type.
      */
    def frame(s: SparkSession): DataFrame = {
      def isTs(t: DataType) = t == TimestampType || t == TimestampNTZType
      val asText = StructType(schema.map(f =>
        if (isTs(f.dataType)) f.copy(dataType = StringType) else f))
      s.createDataFrame(rows.map(Row.fromSeq).asJava, asText)
        .select(schema.map(f => col(f.name).cast(f.dataType)): _*)
    }
  }

  private def duckType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case ArrayType(FloatType, _) => "FLOAT[]"
  }

  private def fields(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  // Crafted degenerate docs: null text, empty, whitespace-only, single
  // char, and a multi-byte unicode near-dup pair (é/ö two-byte, CJK
  // three-byte, emoji four-byte — any code-unit-vs-code-point
  // disagreement between the engines' substr/len shows up as a
  // pair/census mismatch).
  private val craftedDocuments = Crafted("documents",
    fields("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
           "source" -> StringType, "n_chars" -> LongType),
    Seq(
      Seq(900001L, null, "en", "srcX", 0L),
      Seq(900002L, "", "en", "srcX", 0L),
      Seq(900003L, "   ", "zz", "srcX", 3L),
      Seq(900004L, "a", "en", "srcY", 1L),
      Seq(900005L, "héllo wörld 你好 🌍 héllo wörld 你好 🌍 once more", "zh",
          "srcY", 40L),
      Seq(900006L, "héllo wörld 你好 🌍 héllo wörld 你好 🌍 once again", "zh",
          "srcY", 40L)))

  // Crafted degenerate EVENTS for the time families: null ts / user /
  // value / type (every oracle guard runs against its engine twin), an
  // equal-microsecond same-user pair (tie-break and RANGE-frame seams),
  // and a negative value. Timestamps sit inside the fixture's Jan-2024
  // span so trailing windows and day censuses include them.
  private val T0 = "2024-01-10 12:00:00.123456"
  private val T1 = "2024-01-15 08:30:00.500000"
  private val T2 = "2024-01-20 22:45:10.000001"
  private val craftedEvents = Crafted("events",
    fields("event_id" -> LongType, "ts" -> TimestampType,
           "user_id" -> LongType, "event_type" -> StringType,
           "value" -> DoubleType, "props" -> StringType),
    Seq(
      Seq(9000001L, null, 7L, "click", 5.0, "{}"),
      Seq(9000002L, T0, null, "click", 5.0, "{}"),
      Seq(9000003L, T0, 7L, "click", null, "{}"),
      Seq(9000004L, T1, 8L, "purchase", 10.0, "{}"),
      Seq(9000005L, T1, 8L, "click", 20.0, "{}"),
      Seq(9000006L, T2, 8L, "view", -3.5, "{}"),
      Seq(9000007L, T2, 9L, null, 2.0, "{}")))

  // Crafted degenerate LINEITEM rows for the top-k / agg families:
  // null quantity, null extendedprice (the top-k ORDER column — Spark
  // desc and DuckDB both rank nulls last; the typed Aggregator path
  // needed the nullable-score form), null returnflag (null group key),
  // negatives, and a near-2^53 magnitude price.
  private val craftedLineitem = Crafted("lineitem",
    fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
           "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
           "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
           "l_discount" -> DoubleType, "l_tax" -> DoubleType,
           "l_returnflag" -> StringType, "l_linestatus" -> StringType,
           "l_shipdate" -> TimestampNTZType),
    Seq(
      Seq(9000001L, 1L, 1L, 1, null, 50.5, 0.0, 0.0, "A", "F",
          "2024-01-15 00:00:00"),
      Seq(9000002L, 2L, 2L, 2, 10.0, null, 0.1, 0.1, "R", "O",
          "2024-01-16 00:00:00"),
      Seq(9000003L, 3L, 3L, 3, -5.0, -100.25, 0.0, 0.0, null, "F",
          "2024-01-17 00:00:00"),
      Seq(9000004L, 4L, 4L, 4, 10.0, 9.9e13, 0.05, 0.02, "N", "O",
          "2024-01-18 00:00:00")))

  // Crafted degenerate ORDERS for the TPC-H families (r9 verdict gap:
  // lineitem was the only fact corpus with crafted-row perturbation and
  // its rows alone caught the top-k NPE): null custkey (outer joins,
  // EXISTS correlation), null orderdate (date filters, datediff →
  // bucket CASE fall-through), a NONEXISTENT custkey (an orphan order —
  // referential integrity is not assumed), null priority (the IN-list
  // and <>-filter null seams), and a near-2^53-cents totalprice.
  // Interlock: craftedLineitem rides REAL part/supp keys 1..4 but its
  // own l_orderkeys are 9000001..9000004, so crafted order 9000001
  // matches craftedLineitem's l_orderkey 9000001 row (null quantity) —
  // the crafted order has a crafted lineitem shipping far in the
  // future — the Q4/Q21 lateness predicates see it on both engines.
  private val craftedOrders = Crafted("orders",
    fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
           "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
           "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    Seq(
      Seq(9000001L, null, "F", null, "1997-02-15 00:00:00", "1-URGENT"),
      Seq(9000002L, 1L, "P", 0.0, null, "5-LOW"),
      Seq(9000003L, 888888L, "O", -42.5, "1997-06-30 00:00:00", null),
      Seq(9000004L, 2L, "F", 99999999999.99, "1995-01-01 00:00:00",
          "2-HIGH")))

  // Crafted degenerate CUSTOMER rows: null nationkey (dim-join drop +
  // IN-list null), null segment/name, a negative balance, and a huge
  // balance that joins a real nation — the Q22 average-cut mover. The
  // 9000001 customer has NO orders: Q13's outer-join zero bucket.
  private val craftedCustomer = Crafted("customer",
    fields("c_custkey" -> LongType, "c_name" -> StringType,
           "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
           "c_mktsegment" -> StringType),
    Seq(
      Seq(9000001L, null, null, null, "BUILDING"),
      Seq(9000002L, "o'hara", 3, -999.99, null),
      Seq(9000003L, "cust z", 7, 9999999.99, "MACHINERY")))

  // Crafted degenerate SUPPLIER rows: all-null dims, and the Q16
  // balance-cut boundary pair (-0.01 strictly below zero, 0.00 exactly
  // at it — `< 0` must exclude the latter on both engines).
  private val craftedSupplier = Crafted("supplier",
    fields("s_suppkey" -> LongType, "s_name" -> StringType,
           "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    Seq(
      Seq(9000001L, null, null, null),
      Seq(9000002L, "supp neg", 4, -0.01),
      Seq(9000003L, "supp zero", 4, 0.0)))

  // Crafted degenerate PART rows for the fuzzy/edit families: null and
  // empty names, an embedded single-quote near-dup pair (SQL escaping
  // through the VALUES twin), a single-char name and its exact
  // duplicate (the DISTINCT-name domain). ASCII ONLY by design:
  // DuckDB's levenshtein/jaro_winkler are BYTE-based on multi-byte
  // text while the engine (and Spark's levenshtein) count code points
  // — the board corpus is ASCII so the oracles are exact there; the
  // divergence is an oracle-portability limit, not an engine seam
  // (documented in PLANS, pinned by the ASCII-only draw here).
  private val craftedPart = Crafted("part",
    fields("p_partkey" -> LongType, "p_name" -> StringType,
           "p_brand" -> StringType, "p_type" -> StringType,
           "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    Seq(
      Seq(9000001L, null, "Brand#9", "crafted", 1, 1.0),
      Seq(9000002L, "", "Brand#9", "crafted", 1, 1.0),
      Seq(9000003L, "o'brien valve", "Brand#9", "crafted", 1, 1.0),
      Seq(9000004L, "o'brien valvf", "Brand#9", "crafted", 1, 1.0),
      Seq(9000005L, "x", "Brand#9", "crafted", 1, 1.0),
      Seq(9000006L, "x", "Brand#9", "crafted", 1, 1.0)))

  // Crafted degenerate EMBEDDINGS for the cosine families: null, empty,
  // zero-norm and dim-mismatched vectors (the engine's cosine is NULL
  // for all four — excluded from neighbors/pairs/flags; the SQL twins
  // carry the matching explicit validity conditions, because an
  // index-overlap dot would otherwise score a dim-mismatched pair),
  // plus a PARALLEL same-dim pair (cos exactly 1.0 — the tie seam) at
  // the fixture's 64 dimensions.
  private val craftedEmbeddings = Crafted("embeddings",
    fields("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
           "label" -> IntegerType),
    Seq(
      Seq(9000001L, null, 5),
      Seq(9000002L, Array.empty[Float], 5),
      Seq(9000003L, Array.fill(64)(0.0f), 5),
      Seq(9000004L, Array(1.0f, 2.0f, 3.0f), 5),
      Seq(9000005L, Array.tabulate(64)(j => (j % 7 + 1).toFloat), 5),
      Seq(9000006L, Array.tabulate(64)(j => 2.0f * (j % 7 + 1)), 6)))

  /** Every corpus, in the order `Pert.wrap` applies the CTEs. */
  private[tools] val crafted: Seq[Crafted] = Seq(
    craftedDocuments, craftedEvents, craftedLineitem, craftedOrders,
    craftedCustomer, craftedSupplier, craftedPart, craftedEmbeddings)

  /** Retarget every table REFERENCE of `table` (`FROM table` /
    * `JOIN table`, any case, any whitespace) to `ptable`. Scoped to
    * the FROM/JOIN positions — a whole-token replace once renamed an
    * output ALIAS (n_events -> n_pevents in the events twin) and
    * failed the schema compare — and word-bounded, so a prefixed
    * identifier (`FROM documents_x`, a CTE) is never mangled and a
    * lowercase `from` is never silently skipped (r9 advisor catch:
    * the plain substring replace had both holes).
    */
  private def retarget(sql: String, table: String,
                       ptable: String): String = {
    val out =
      sql.replaceAll(s"(?i)(\\b(?:FROM|JOIN)\\s+)$table\\b", "$1" + ptable)
    // Self-check (r10 advisor catch): a comma FROM-list
    // (`FROM a, b, c`) puts table references where no FROM/JOIN token
    // precedes them, so the anchored rewrite above silently misses
    // them and a "perturbed" config keeps reading the BASE table —
    // the oracle twin then tests nothing. Any surviving whole-word
    // occurrence of the base name is a generator bug; fail loudly
    // rather than record a vacuous pass. (Runs before the CTE is
    // prepended, so the CTE's own legitimate base read is exempt.)
    require(s"(?i)\\b$table\\b".r.findFirstIn(out).isEmpty,
      s"retarget: '$table' still referenced after rewrite " +
        s"(comma FROM-list or alias?) in:\n$out")
    out
  }

  /** Prepend a CTE to a (possibly already-WITH) statement. */
  private def withCte(body: String, cte: String): String =
    if (body.startsWith("WITH RECURSIVE "))
      body.replaceFirst("WITH RECURSIVE ", s"WITH RECURSIVE $cte,\n")
    else if (body.startsWith("WITH "))
      body.replaceFirst("WITH ", s"WITH $cte,\n")
    else s"WITH $cte\n" + body

  /** The crafted corpora one case perturbs, both sides: `load` reads a
    * table with its crafted rows unioned in when it is perturbed (it is
    * also the TPC-H builders' Loader), and `wrap` retargets every
    * perturbed table's references in a generated oracle to its
    * `p<table>` CTE.
    */
  private final case class Pert(tables: Set[String]) {
    require(tables.subsetOf(crafted.map(_.table).toSet),
      s"no crafted rows for ${tables.mkString(",")}")

    def on: Boolean = tables.nonEmpty

    def ++(other: Pert): Pert = Pert(tables ++ other.tables)

    def load(s: SparkSession, dir: String, table: String): DataFrame = {
      val base = Tables.load(s, dir, table)
      crafted.find(c => c.table == table && tables(table))
        .fold(base)(c => base.unionByName(c.frame(s)))
    }

    def wrap(sql: String): String =
      crafted.filter(c => tables(c.table)).foldLeft(sql) { (q, c) =>
        withCte(retarget(q, c.table, s"p${c.table}"),
          s"p${c.table} AS (SELECT * FROM ${c.table} UNION ALL\n" +
            s"  SELECT * FROM (VALUES ${c.valuesSql})\n" +
            s"    v(${c.schema.fieldNames.mkString(", ")}))")
      }
  }

  /** A one-table family's draw: its table perturbed 35% of the time. */
  private def drawPert(r: Random, table: String): Pert =
    Pert(if (r.nextInt(100) < 35) Set(table) else Set.empty)

  // ---- families ------------------------------------------------------

  /** n-gram Jaccard self-join: sweeps shingle width, threshold, AND the
    * fixture slice (doc_id mod class) — the prefix/positional/indexing
    * filters' ±1 bounds all move with (n, τ, corpus).
    */
  private def genJaccard(r: Random, i: Int): FuzzCase = {
    val n = 8 + r.nextInt(9)            // 8..16
    val tau = tauGrid(r)                // 0.50..0.95
    val m = 1 + r.nextInt(3)            // slice modulus 1..3
    val rem = r.nextInt(m)
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_jaccard_$i%03d", "jaccard",
      s"n=$n tau=$tau m=$m r=$rem pert=${p.on}",
      (s, dir) => {
        val docs0 = p.load(s, dir, "documents")
        val docs = if (m > 1) docs0.filter(pmod(col("doc_id"), lit(m)) === rem)
                   else docs0
        DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n, tau)
      },
      p.wrap(Dedup.jaccardPairsCteGen(n, tau, sliceRel(m, rem)) +
        "\nSELECT id_a, id_b, jaccard FROM pairs"))
  }

  /** R-S containment join: snippet geometry (start/len/stride) and τ all
    * randomized; containment denominator is the snippet's gram count.
    */
  private def genContainment(r: Random, i: Int): FuzzCase = {
    val n = 10 + r.nextInt(5)           // 10..14
    val tau = tauGrid(r)                // 0.50..0.95
    val mod = 5 + r.nextInt(5)          // 5..9
    val start = 21 + r.nextInt(60)      // 21..80
    val slen = 80 + r.nextInt(121)      // 80..200
    val minTextLen = start + slen + 49
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_contain_$i%03d", "containment",
      s"n=$n tau=$tau mod=$mod start=$start slen=$slen pert=${p.on}",
      (s, dir) =>
        Dedup.containmentGen(p.load(s, dir, "documents"), n, tau, mod, start,
                             slen, minTextLen),
      p.wrap(Dedup.containmentOracleGen(n, tau, mod, start, slen,
                                        minTextLen)))
  }

  /** Top-k per group over lineitem: k, group column and order column all
    * drawn; tie-break fixed at (l_orderkey, l_linenumber).
    */
  private def genTopk(r: Random, i: Int): FuzzCase = {
    val k = 1 + r.nextInt(8)
    val grp = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
    val ord = Seq("l_extendedprice", "l_quantity", "l_discount")(r.nextInt(3))
    val p = drawPert(r, "lineitem")
    FuzzCase(f"fz_topk_$i%03d", "topk", s"k=$k grp=$grp ord=$ord pert=${p.on}",
      (s, dir) => Parity.topkGen(p.load(s, dir, "lineitem"), k, grp, ord),
      p.wrap(Parity.topkOracleGen(k, grp, ord)))
  }

  /** Brute-force cosine top-k: probe id and k drawn. */
  private def genCosTopk(r: Random, i: Int): FuzzCase = {
    val probe = r.nextInt(500).toLong
    val k = 3 + r.nextInt(23)           // 3..25
    val p = drawPert(r, "embeddings")
    FuzzCase(f"fz_costopk_$i%03d", "cos_topk",
      s"probe=$probe k=$k pert=${p.on}",
      (s, dir) =>
        SimilarityOps.topKNeighbors(p.load(s, dir, "embeddings"),
                                    "vec_id", "embedding", probe, k),
      p.wrap(Ann.cosineTopkOracleGen(probe, k)))
  }

  /** All-pairs cosine ≥ τ. */
  private def genCosPairs(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 6, 16)         // 0.30..0.80
    val p = drawPert(r, "embeddings")
    FuzzCase(f"fz_cospairs_$i%03d", "cos_pairs", s"tau=$tau pert=${p.on}",
      (s, dir) =>
        SimilarityOps.cosinePairs(p.load(s, dir, "embeddings"),
                                  "vec_id", "embedding", tau),
      p.wrap(Ann.cosinePairsOracleGen(tau)))
  }

  /** Doc-level decontamination: gram width, benchmark source, and the
    * minShared floor drawn.
    */
  private def genDecon(r: Random, i: Int): FuzzCase = {
    val n = 20 + r.nextInt(21)          // 20..40
    val src = s"src${r.nextInt(20)}"
    val minShared = 1L + r.nextInt(3)   // 1..3
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_decon_$i%03d", "decon",
      s"n=$n src=$src min=$minShared pert=${p.on}",
      (s, dir) => {
        val docs = p.load(s, dir, "documents")
        DedupOps.contamination(docs.filter(col("source") =!= src),
                               docs.filter(col("source") === src),
                               "doc_id", "text", n, minShared)
      },
      p.wrap(Dedup.decontaminateOracleGen(n, src, minShared)))
  }

  /** Cross-document maximal shared spans: anchor gram width and span
    * floor drawn (the gaps-and-islands diagonal logic must hold for all).
    */
  private def genSpans(r: Random, i: Int): FuzzCase = {
    val n = 15 + r.nextInt(16)          // 15..30
    val minLen = n + 15 + r.nextInt(41) // n+15..n+55
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_spans_$i%03d", "spans", s"n=$n minLen=$minLen pert=${p.on}",
      (s, dir) =>
        DedupOps.sharedSpans(p.load(s, dir, "documents"),
                             "doc_id", "text", n, minLen),
      p.wrap(Dedup.substringOracleGen(n, minLen)))
  }

  /** Benchmark-vs-corpus span decontamination. */
  private def genDeconSpans(r: Random, i: Int): FuzzCase = {
    val n = 20 + r.nextInt(16)          // 20..35
    val minLen = n + 20 + r.nextInt(41) // n+20..n+60
    val src = s"src${r.nextInt(20)}"
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_dspans_$i%03d", "decon_spans",
      s"n=$n minLen=$minLen src=$src pert=${p.on}",
      (s, dir) => {
        val docs = p.load(s, dir, "documents")
        DedupOps.sharedSpansBetween(docs.filter(col("source") =!= src),
                                    docs.filter(col("source") === src),
                                    "doc_id", "text", n, minLen)
      },
      p.wrap(Dedup.deconSpansOracleGen(n, minLen, src)))
  }

  /** Line-granular cross-doc dedup: duplication floor and blank-exemption
    * width drawn.
    */
  private def genLineDedup(r: Random, i: Int): FuzzCase = {
    val minDocs = 2 + r.nextInt(3)      // 2..4
    val minChars = 1 + r.nextInt(3)     // 1..3
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_lined_$i%03d", "line_dedup",
      s"minDocs=$minDocs minChars=$minChars pert=${p.on}",
      (s, dir) =>
        DedupOps.lineDedup(p.load(s, dir, "documents"),
                           "doc_id", "text", minDocs, minChars),
      p.wrap(Dedup.lineDedupOracleGen(minDocs, minChars)))
  }

  /** Keyed exact dedup over a random key subset. */
  private def genDedupKeyed(r: Random, i: Int): FuzzCase = {
    val all = Seq("lang", "source")
    val keys = r.shuffle(all).take(1 + r.nextInt(all.size))
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_keyed_$i%03d", "dedup_keyed",
      s"keys=${keys.mkString("+")} pert=${p.on}",
      (s, dir) =>
        DedupOps.dedupKeyed(p.load(s, dir, "documents"), keys, "doc_id"),
      p.wrap(s"""SELECT ${keys.mkString(", ")}, min(doc_id) AS doc_id
         |FROM documents GROUP BY ${keys.mkString(", ")}""".stripMargin))
  }

  /** Hour-range predicate with random (possibly degenerate) bounds —
    * BETWEEN boundary semantics.
    */
  private def genHour(r: Random, i: Int): FuzzCase = {
    val lo = r.nextInt(24)
    val hi = lo + r.nextInt(24 - lo)
    val p = drawPert(r, "events")
    FuzzCase(f"fz_hour_$i%03d", "hour", s"lo=$lo hi=$hi pert=${p.on}",
      (s, dir) =>
        p.load(s, dir, "events")
          .filter(hour(col("ts")).between(lo, hi))
          .agg(count(lit(1)).as("n_rows")),
      p.wrap(s"""SELECT count(*) AS n_rows FROM events
         |WHERE date_part('hour', ts) BETWEEN $lo AND $hi""".stripMargin))
  }

  /** k-center greedy coreset: k drawn; the unrolled CTE chain's length
    * follows.
    */
  private def genKcenter(r: Random, i: Int): FuzzCase = {
    val k = 2 + r.nextInt(9)            // 2..10
    FuzzCase(f"fz_kcenter_$i%03d", "kcenter", s"k=$k",
      (s, dir) =>
        SimilarityOps.kCenterSelect(Tables.load(s, dir, "embeddings"),
                                    "vec_id", "embedding", k),
      Ann.kcenterOracleGen(k))
  }

  /** MMR greedy re-rank: (probe, λ, pool, k) all drawn; λ on the 0.05
    * grid so the oracle's `$lam*rel - ${1-lam}*maxs` text parses to the
    * exact doubles the engine computes.
    */
  private def genMmr(r: Random, i: Int): FuzzCase = {
    val probe = r.nextInt(200).toLong
    val lam = tauGrid(r, 6, 16)         // 0.30..0.80
    val k = 4 + r.nextInt(9)            // 4..12
    val n = k + 5 + r.nextInt(16)       // k+5..k+20
    FuzzCase(f"fz_mmr_$i%03d", "mmr", s"probe=$probe lam=$lam n=$n k=$k",
      (s, dir) =>
        SimilarityOps.mmrRerank(Tables.load(s, dir, "embeddings"),
                                "vec_id", "embedding", probe, lam, n, k),
      Ann.mmrOracleGen(probe, lam, n, k))
  }

  /** Top-k per group through the bounded-buffer Aggregator — the SAME
    * contract as the window path (genTopk) via a different physical
    * strategy, so one oracle serves both; k and group drawn.
    */
  private def genTopkAgg(r: Random, i: Int): FuzzCase = {
    val k = 1 + r.nextInt(8)
    val grp = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
    val p = drawPert(r, "lineitem")
    FuzzCase(f"fz_topkagg_$i%03d", "topk_agg", s"k=$k grp=$grp pert=${p.on}",
      (s, dir) => Parity.topkAggGen(p.load(s, dir, "lineitem"), k, grp),
      p.wrap(Parity.topkOracleGen(k, grp, "l_extendedprice")))
  }

  /** Blocked Jaro-Winkler entity resolution: τ drawn (the native
    * expression must stay DuckDB-identical at every threshold).
    */
  private def genFuzzy(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 14, 19)        // 0.70..0.95
    val p = drawPert(r, "part")
    FuzzCase(f"fz_fuzzy_$i%03d", "fuzzy", s"tau=$tau pert=${p.on}",
      (s, dir) =>
        graft.ops.FuzzyMatch.fuzzyPairs(p.load(s, dir, "part"),
                                        "p_name", tau),
      p.wrap(Dedup.fuzzyOracleGen(tau)))
  }

  /** Edit-distance join: d drawn (the 2d+1 length-key generation must
    * stay lossless at every radius).
    */
  private def genEdit(r: Random, i: Int): FuzzCase = {
    val d = 1 + r.nextInt(3)            // 1..3
    val p = drawPert(r, "part")
    FuzzCase(f"fz_edit_$i%03d", "edit", s"d=$d pert=${p.on}",
      (s, dir) =>
        graft.ops.FuzzyMatch.editPairs(p.load(s, dir, "part"),
                                       "p_name", d),
      p.wrap(Dedup.editOracleGen(d)))
  }

  /** Winsorization census: the (lo, hi) quantile pair drawn on the 0.05
    * grid — exact interpolated quantiles must agree at every cut.
    */
  private def genWinsorize(r: Random, i: Int): FuzzCase = {
    val lo = (1 + r.nextInt(5)) / 20.0  // 0.05..0.25
    val hi = (15 + r.nextInt(5)) / 20.0 // 0.75..0.95
    val p = drawPert(r, "events")
    FuzzCase(f"fz_winsor_$i%03d", "winsorize", s"lo=$lo hi=$hi pert=${p.on}",
      (s, dir) => Analytics.winsorizeGen(p.load(s, dir, "events"), lo, hi),
      p.wrap(Analytics.winsorizeOracleGen(lo, hi)))
  }

  /** Stratified sample: the per-group budget k drawn. */
  private def genStratified(r: Random, i: Int): FuzzCase = {
    val k = 3 + r.nextInt(28)           // 3..30
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_strat_$i%03d", "stratified", s"k=$k pert=${p.on}",
      (s, dir) =>
        graft.text.TextOps.stratifiedSample(
          p.load(s, dir, "documents"), "source", "doc_id", k)
          .select(col("source"), col("doc_id")),
      p.wrap(Text.stratifiedOracleGen(k)))
  }

  /** Heavy-hitter grams: (n, minDf) drawn — the CMS screen must stay
    * lossless (screen + exact verify ≡ plain group-count) at every
    * width/floor combination.
    */
  private def genHeavyGrams(r: Random, i: Int): FuzzCase = {
    val n = 8 + r.nextInt(9)            // 8..16
    val minDf = 3L + r.nextInt(18)      // 3..20
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_heavy_$i%03d", "heavy_grams",
      s"n=$n minDf=$minDf pert=${p.on}",
      (s, dir) =>
        DedupOps.heavyGrams(p.load(s, dir, "documents"),
                            "doc_id", "text", n, minDf, width = 1 << 17),
      p.wrap(Dedup.heavyGramsOracleGen(n, minDf)))
  }

  /** Semantic decontamination: τ drawn. */
  private def genSemDecon(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 4, 12)         // 0.20..0.60
    val p = drawPert(r, "embeddings")
    FuzzCase(f"fz_semdecon_$i%03d", "sem_decon", s"tau=$tau pert=${p.on}",
      (s, dir) => {
        val emb = p.load(s, dir, "embeddings")
        SimilarityOps.semanticDecontaminate(
          emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
          "vec_id", "embedding", tau)
      },
      p.wrap(Ann.semDeconOracleGen(tau)))
  }

  /** Gap sessionization: the gap drawn (the lag/cumsum boundary must
    * hold at every width).
    */
  private def genSessionize(r: Random, i: Int): FuzzCase = {
    val gap = 5 + r.nextInt(116)        // 5..120 minutes
    val p = drawPert(r, "events")
    FuzzCase(f"fz_sess_$i%03d", "sessionize", s"gap=${gap}m pert=${p.on}",
      (s, dir) =>
        graft.streaming.Sessionize.batch(p.load(s, dir, "events"), gap),
      p.wrap(Analytics.sessionizeOracleGen(gap)))
  }

  /** Interval self-join: δ drawn — the δ-bin equi-key decomposition
    * must stay lossless (each pair meets in exactly one bin key) at
    * every width.
    */
  private def genIntervalJoin(r: Random, i: Int): FuzzCase = {
    val delta = 200L + r.nextInt(4801)  // 200..5000 ms
    val p = drawPert(r, "events")
    FuzzCase(f"fz_ivj_$i%03d", "interval_join",
      s"delta=${delta}ms pert=${p.on}",
      (s, dir) =>
        graft.streaming.StreamingOps.intervalJoin(
          p.load(s, dir, "events"), "event_id", "ts", delta),
      p.wrap(Analytics.intervalJoinOracleGen(delta)))
  }

  /** Range-join pair census: δ drawn. */
  private def genRangeJoin(r: Random, i: Int): FuzzCase = {
    val delta = 5000L + 1000L * r.nextInt(116) // 5..120 s
    val p = drawPert(r, "events")
    FuzzCase(f"fz_rgj_$i%03d", "range_join", s"delta=${delta}ms pert=${p.on}",
      (s, dir) =>
        graft.ops.RangeJoin.pairsWithin(p.load(s, dir, "events"),
                                        "event_id", "ts", delta)
          .agg(count(lit(1)).as("n_pairs"),
               round(avg(col("gap_ms")), 6).as("avg_gap_ms")),
      p.wrap(Analytics.rangeJoinOracleGen(delta)))
  }

  /** Context-window chunking: (size, overlap) drawn — the tail-window
    * emit condition (s = 0 OR s < len − overlap) and the final short
    * chunk must agree at every geometry.
    */
  private def genChunk(r: Random, i: Int): FuzzCase = {
    val size = 20 + r.nextInt(61)       // 20..80 tokens
    val overlap = r.nextInt(size / 2 + 1)
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_chunk_$i%03d", "chunk",
      s"size=$size overlap=$overlap pert=${p.on}",
      (s, dir) =>
        graft.text.TextOps.chunkDocs(p.load(s, dir, "documents"),
                                     "text", size, overlap),
      p.wrap(Text.chunkDocsOracleGen(size, overlap)))
  }

  /** Token-budget prefix sample: (budget, seed) drawn — the global
    * prefix-sum assembly and the md5 shuffle order must agree at every
    * cut point and seed.
    */
  private def genTokenBudget(r: Random, i: Int): FuzzCase = {
    val budget = 500L * (1 + r.nextInt(60)) // 500..30000 tokens
    val seed = r.nextInt(1000).toString
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_tokbud_$i%03d", "token_budget",
      s"budget=$budget seed=$seed pert=${p.on}",
      (s, dir) =>
        graft.text.TextOps.tokenBudget(p.load(s, dir, "documents"), budget,
                                       seed),
      p.wrap(Text.tokenBudgetOracleGen(budget, seed)))
  }

  /** Trailing value-range rolling aggregate: the window width drawn. */
  private def genRolling(r: Random, i: Int): FuzzCase = {
    val hours = 1 + r.nextInt(72)
    val p = drawPert(r, "events")
    FuzzCase(f"fz_roll_$i%03d", "rolling", s"hours=$hours pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.rollingAgg(p.load(s, dir, "events"),
                                        "event_id", "user_id", "ts",
                                        "value", hours),
      p.wrap(Analytics.rollingAvgOracleGen(hours)))
  }

  /** Trailing-distinct active users: the window drawn. */
  private def genActiveUsers(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(20) // 2..21
    val p = drawPert(r, "events")
    FuzzCase(f"fz_actusr_$i%03d", "active_users", s"days=$days pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.activeUsers(p.load(s, dir, "events"), days),
      p.wrap(Analytics.activeUsersOracleGen(days)))
  }

  /** Balanced shard assignment census: (nShards, seed) drawn — the
    * token-mass boundary arithmetic at every shard count.
    */
  private def genShard(r: Random, i: Int): FuzzCase = {
    val n = 2 + r.nextInt(31) // 2..32
    val seed = r.nextInt(1000).toString
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_shard_$i%03d", "shard", s"n=$n seed=$seed pert=${p.on}",
      (s, dir) =>
        graft.text.TextOps.shardAssign(p.load(s, dir, "documents"), n, seed)
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("n_tokens")),
      p.wrap(Text.shardCensusOracleGen(n, seed)))
  }

  /** Hopping-window rollup: (slide, hop-count) drawn — each row lands
    * in exactly dur/slide windows; the assignment arithmetic must agree
    * at every geometry.
    */
  private def genHopping(r: Random, i: Int): FuzzCase = {
    val slide = Seq(10, 15, 20, 30, 60)(r.nextInt(5))
    val mult = 2 + r.nextInt(3) // dur = 2..4 slides
    val dur = slide * mult
    val p = drawPert(r, "events")
    FuzzCase(f"fz_hop_$i%03d", "hopping",
      s"dur=${dur}m slide=${slide}m pert=${p.on}",
      (s, dir) =>
        graft.streaming.StreamingOps.hoppingRollup(
          p.load(s, dir, "events"), s"$dur minutes", s"$slide minutes"),
      p.wrap(Analytics.hoppingOracleGen(dur, slide)))
  }

  /** Trailing-baseline anomaly flags: (windowDays, z) drawn. */
  private def genAnomaly(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(13)        // 2..14
    val z = (4 + r.nextInt(9)) / 2.0    // 2.0..6.0 on the 0.5 grid
    val p = drawPert(r, "events")
    FuzzCase(f"fz_anom_$i%03d", "anomaly", s"days=$days z=$z pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.anomalyFlags(p.load(s, dir, "events"),
                                          days, z),
      p.wrap(Analytics.anomalyOracleGen(days, z)))
  }

  // ---- generic group-by/agg family -----------------------------------

  private final case class TableSpec(name: String, grpCols: Seq[String],
                                     intCols: Seq[String],
                                     dblCols: Seq[String],
                                     strVals: Map[String, Seq[String]])

  private val aggTables = Seq(
    TableSpec("lineitem", Seq("l_returnflag", "l_linestatus"),
              Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
              Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
              Map("l_returnflag" -> Seq("A", "N", "R"),
                  "l_linestatus" -> Seq("F", "O"))),
    TableSpec("orders", Seq("o_orderstatus", "o_orderpriority"),
              Seq("o_orderkey", "o_custkey"), Seq("o_totalprice"), Map.empty),
    TableSpec("customer", Seq("c_mktsegment"),
              Seq("c_custkey", "c_nationkey"), Seq("c_acctbal"), Map.empty),
    TableSpec("part", Seq("p_brand", "p_type"),
              Seq("p_partkey", "p_size"), Seq("p_retailprice"), Map.empty))

  /** Random group-by/aggregate/filter over a TPC-H-ish table — a narrow
    * SQLsmith. Aggregates restricted to hash-exact-portable forms: counts,
    * int sums (CAST BIGINT on the DuckDB side — HUGEINT would arrive as
    * Decimal and fail the type-sensitive compare), min/max (exact on any
    * type), and round(avg(int), 6) (integer sums are exact doubles below
    * 2^53, so the division is bit-identical). Double SUMS are excluded:
    * their low bits depend on accumulation order.
    */
  private def genAgg(r: Random, i: Int): FuzzCase = {
    val tb = aggTables(r.nextInt(aggTables.size))
    // only lineitem is perturbed here; the other tables skip the draw
    // (the recorded sweeps' parameters depend on it)
    val p = if (tb.name == "lineitem") drawPert(r, tb.name) else Pert(Set.empty)
    val nGrp = r.nextInt(math.min(2, tb.grpCols.size) + 1) // 0..2
    val grps = r.shuffle(tb.grpCols).take(nGrp)

    // aggregate draws: (sparkCol, sqlExpr, alias)
    var aggs = Vector.empty[(Column, String)]
    def draw(): Unit = r.nextInt(5) match {
      case 0 =>
        aggs :+= (count(lit(1)).as("a_cnt"), "count(*) AS a_cnt")
      case 1 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (sum(col(c)).as(s"a_sum_$c"),
                  s"CAST(sum($c) AS BIGINT) AS a_sum_$c")
      case 2 =>
        val c = (tb.intCols ++ tb.dblCols)(
          r.nextInt(tb.intCols.size + tb.dblCols.size))
        if (r.nextBoolean())
          aggs :+= (min(col(c)).as(s"a_min_$c"), s"min($c) AS a_min_$c")
        else
          aggs :+= (max(col(c)).as(s"a_max_$c"), s"max($c) AS a_max_$c")
      case 3 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (countDistinct(col(c)).as(s"a_cntd_$c"),
                  s"count(DISTINCT $c) AS a_cntd_$c")
      case 4 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (round(avg(col(c)), 6).as(s"a_avg_$c"),
                  s"round(avg($c), 6) AS a_avg_$c")
    }
    val nAgg = 1 + r.nextInt(3)
    while (aggs.size < nAgg) { draw(); aggs = aggs.distinctBy(_._2) }

    // optional filter: int mod-class or known string equality
    val filt: Option[(Column, String)] = r.nextInt(3) match {
      case 0 => None
      case 1 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        val k = 2 + r.nextInt(6)
        val v = r.nextInt(k)
        Some((pmod(col(c), lit(k)) === v, s"$c % $k = $v"))
      case 2 if tb.strVals.nonEmpty =>
        val (c, vals) = tb.strVals.toSeq(r.nextInt(tb.strVals.size))
        val v = vals(r.nextInt(vals.size))
        Some((col(c) === v, s"$c = '$v'"))
      case _ => None
    }

    val sqlSel =
      (grps ++ aggs.map(_._2)).mkString(", ")
    val sqlWhere = filt.map(f => s"\nWHERE ${f._2}").getOrElse("")
    val sqlGroup =
      if (grps.nonEmpty) s"\nGROUP BY ${grps.mkString(", ")}" else ""
    FuzzCase(f"fz_agg_$i%03d", "agg",
      s"tb=${tb.name} grp=${grps.mkString("+")} aggs=${aggs.size} " +
        s"filt=${filt.map(_._2).getOrElse("none")} pert=${p.on}",
      (s, dir) => {
        val base0 = p.load(s, dir, tb.name)
        val base = filt.map(f => base0.filter(f._1)).getOrElse(base0)
        val cols = aggs.map(_._1)
        if (grps.nonEmpty)
          base.groupBy(grps.map(col): _*).agg(cols.head, cols.tail: _*)
        else base.agg(cols.head, cols.tail: _*)
      },
      p.wrap(s"SELECT $sqlSel\nFROM ${tb.name}$sqlWhere$sqlGroup"))
  }

  // ---- analytic-bank families (r9 verdict gap #3) -----------------------
  // Board analytic queries previously pinned at one parameter point;
  // both sides live in graft.board.Analytics (the board rows call them at the
  // pinned params — one definition, no drift).

  /** SCD2 history build: the tier divisor moves every change boundary. */
  private def genScd2(r: Random, i: Int): FuzzCase = {
    val d = Seq(10, 20, 25, 40, 50, 80)(r.nextInt(6))
    val p = drawPert(r, "events")
    FuzzCase(f"fz_scd2_$i%03d", "scd2", s"div=$d pert=${p.on}",
      (s, dir) => Analytics.scd2Gen(p.load(s, dir, "events"), d),
      p.wrap(Analytics.scd2OracleGen(d)))
  }

  /** Last-touch attribution: the channel modulus redraws the credit
    * partition (and the null-props → null-channel → 'direct' coalesce
    * seam rides every draw).
    */
  private def genAttribution(r: Random, i: Int): FuzzCase = {
    val m = 2 + r.nextInt(5) // 2..6
    val p = drawPert(r, "events")
    FuzzCase(f"fz_attr_$i%03d", "attribution", s"mod=$m pert=${p.on}",
      (s, dir) => Analytics.attributionGen(p.load(s, dir, "events"), m),
      p.wrap(Analytics.attributionOracleGen(m)))
  }

  /** Ordered funnel: random step sequence over the five event types and
    * a random conversion window.
    */
  private def genFunnel(r: Random, i: Int): FuzzCase = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val steps = r.shuffle(types).take(2 + r.nextInt(3))
    val gap = 12 + r.nextInt(85) // 12..96 h
    val p = drawPert(r, "events")
    FuzzCase(f"fz_funnel_$i%03d", "funnel",
      s"steps=${steps.mkString(">")} gap=${gap}h pert=${p.on}",
      (s, dir) =>
        graft.ops.Funnel.funnel(p.load(s, dir, "events"), steps,
                                maxGapHours = Some(gap)),
      p.wrap(Analytics.funnelOracleGen(steps, gap)))
  }

  /** As-of join (latest order at-or-before each event): the user→cust
    * key fold modulus redraws the join fan-in.
    */
  private def genAsof(r: Random, i: Int): FuzzCase = {
    val m = Seq(50, 100, 150, 250)(r.nextInt(4))
    val p = drawPert(r, "events") ++ drawPert(r, "orders")
    FuzzCase(f"fz_asof_$i%03d", "asof",
      s"mod=$m pertE=${p.tables("events")} pertO=${p.tables("orders")}",
      (s, dir) =>
        Analytics.asofGen(p.load(s, dir, "events"), p.load(s, dir, "orders"),
                          m),
      p.wrap(Analytics.asofOracleGen(m)))
  }

  /** PageRank: basket modulus (graph density), iteration count and the
    * damping literal all drawn; both sides round each iteration onto
    * the shared 1e-9 grid.
    */
  private def genPagerank(r: Random, i: Int): FuzzCase = {
    val m = 4 + r.nextInt(5)            // 4..8
    val iters = 2 + r.nextInt(3)        // 2..4
    val damping = Seq(0.8, 0.85, 0.9)(r.nextInt(3))
    val p = drawPert(r, "lineitem")
    FuzzCase(f"fz_pr_$i%03d", "pagerank",
      s"mod=$m iters=$iters d=$damping pert=${p.on}",
      (s, dir) =>
        graft.graph.GraphOps.pageRank(
            graft.graph.GraphOps.coPurchaseEdges(
              p.load(s, dir, "lineitem"), modulus = m),
            iters = iters, damping = damping)
          .orderBy(col("pr").desc, col("node").asc).limit(25)
          .select(col("node").as("part_key"), col("pr")),
      p.wrap(
        Analytics.pagerankOracleGen(m, iters, damping)))
  }

  /** Event transition matrix at a drawn journey depth. */
  private def genTransitions(r: Random, i: Int): FuzzCase = {
    val step = 1 + r.nextInt(4)
    val p = drawPert(r, "events")
    FuzzCase(f"fz_trans_$i%03d", "transitions", s"step=$step pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.transitions(p.load(s, dir, "events"),
                                         step = step),
      p.wrap(Analytics.transitionsOracleGen(step)))
  }

  /** Gap-filled outage flags: baseline window and z cut drawn (the
    * spine form of the anomaly census — a total outage is a zero row,
    * not a missing one).
    */
  private def genOutage(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(13)        // 2..14
    val z = (4 + r.nextInt(9)) / 2.0    // 2.0..6.0 on the 0.5 grid
    val p = drawPert(r, "events")
    FuzzCase(f"fz_outage_$i%03d", "outage", s"days=$days z=$z pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.anomalyFlags(p.load(s, dir, "events"),
                                          windowDays = days,
                                          zThreshold = z, gapFill = true),
      p.wrap(Analytics.outageOracleGen(days, z)))
  }

  /** Cohort retention at drawn granularity (day vs week cohorts). */
  private def genCohort(r: Random, i: Int): FuzzCase = {
    val gran = Seq("day", "week")(r.nextInt(2))
    val p = drawPert(r, "events")
    FuzzCase(f"fz_cohort_$i%03d", "cohort", s"gran=$gran pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.cohortRetention(p.load(s, dir, "events"),
                                             granularity = gran),
      p.wrap(Analytics.cohortOracleGen(gran)))
  }

  /** Daily churn census at a drawn look-back horizon (1/7/28-day). */
  private def genChurn(r: Random, i: Int): FuzzCase = {
    val h = Seq(1, 2, 3, 7, 14, 28)(r.nextInt(6))
    val p = drawPert(r, "events")
    FuzzCase(f"fz_churn_$i%03d", "churn", s"horizon=$h pert=${p.on}",
      (s, dir) =>
        graft.ops.TimeSeries.userChurn(p.load(s, dir, "events"),
                                       horizonDays = h),
      p.wrap(Analytics.churnOracleGen(h)))
  }

  /** Gopher quality rules: every cut threshold drawn from its coarse
    * decimal grid (the published constants are just the default
    * config); the compared ratios are exact rationals both engines
    * compute identically, so each boundary decision is portable.
    */
  private def genGopher(r: Random, i: Int): FuzzCase = {
    val t = graft.text.TextOps.GopherThresholds(
      minWords = Seq(10, 20, 50, 80)(r.nextInt(4)),
      maxWords = Seq(500, 1000, 100000)(r.nextInt(3)),
      wordLenLo = Seq(2.0, 3.0, 4.0)(r.nextInt(3)),
      wordLenHi = Seq(8.0, 10.0, 12.0)(r.nextInt(3)),
      maxSymbolRatio = Seq(0.02, 0.05, 0.1, 0.2)(r.nextInt(4)),
      maxBulletFrac = Seq(0.3, 0.5, 0.9)(r.nextInt(3)),
      maxEllipsisFrac = Seq(0.05, 0.1, 0.3)(r.nextInt(3)),
      minAlphaFrac = Seq(0.6, 0.8, 0.9)(r.nextInt(3)),
      minStopwords = 1 + r.nextInt(3))
    val p = drawPert(r, "documents")
    FuzzCase(f"fz_gopher_$i%03d", "gopher", s"t=$t pert=${p.on}",
      (s, dir) =>
        graft.text.TextOps.gopherRules(p.load(s, dir, "documents"), t = t),
      p.wrap(Text.gopherOracleGen(t)))
  }

  /** Window frames: random ROWS / RANGE bounds (and a lag/lead offset)
    * over the orders table — frame-boundary semantics are classic seam
    * territory and the board pins only ROWS UNBOUNDED PRECEDING. The
    * framed sum rides integer cents so every frame's total is exact on
    * both engines; RANGE offsets apply to the integer orderkey.
    */
  private def genWindowFrames(r: Random, i: Int): FuzzCase = {
    val mode = Seq("rows", "range", "running")(r.nextInt(3))
    val a = r.nextInt(6)                    // preceding
    val b = r.nextInt(6)                    // following
    val off = 1 + r.nextInt(3)              // lag/lead offset
    // RANGE offsets are in orderkey units — scale up so frames span
    // multiple rows at sf0.01's sparse per-customer keys
    val (ra, rb) = (a * 100, b * 100)
    val p = drawPert(r, "orders")
    val frameSql = mode match {
      case "rows"    => s"ROWS BETWEEN $a PRECEDING AND $b FOLLOWING"
      case "range"   => s"RANGE BETWEEN $ra PRECEDING AND $rb FOLLOWING"
      case "running" => "ROWS UNBOUNDED PRECEDING"
    }
    FuzzCase(f"fz_wframe_$i%03d", "window_frames",
      s"mode=$mode a=$a b=$b off=$off pert=${p.on}",
      (s, dir) => {
        val base = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderkey").asc)
        val w = mode match {
          case "rows"    => base.rowsBetween(-a.toLong, b.toLong)
          case "range"   => base.rangeBetween(-ra.toLong, rb.toLong)
          case "running" =>
            base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        }
        p.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
                  col("o_totalprice"))
          .withColumn("frame_cents",
            sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w))
          .withColumn("n_frame", count(lit(1)).over(w))
          .withColumn("prev_k", lag(col("o_orderkey"), off).over(base))
          .withColumn("next_k", lead(col("o_orderkey"), off).over(base))
          .drop("o_totalprice")
      },
      p.wrap(
        s"""SELECT o_custkey, o_orderkey,
           |  CAST(sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT))
           |       OVER w AS BIGINT) AS frame_cents,
           |  CAST(count(*) OVER w AS BIGINT) AS n_frame,
           |  lag(o_orderkey, $off) OVER wp AS prev_k,
           |  lead(o_orderkey, $off) OVER wp AS next_k
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
           |             $frameSql),
           |       wp AS (PARTITION BY o_custkey ORDER BY o_orderkey)"""
          .stripMargin))
  }

  // ---- TPC-H substitution-parameter families ---------------------------
  // r9 verdict gap #1: the 22 board TPC-H queries were pinned at ONE
  // substitution point each and sat outside the fuzz families. These
  // three families draw the spec's own substitution parameters (dates,
  // discount ±0.01, quantity cuts, brands/types/sizes, segments,
  // nation/region picks — TPC-H v3 §2.4, adapted to the synthetic
  // domain) and run the paired builders in graft.tpch.TpchGen, whose
  // pinned draws are the board entries (`TpchGen.board`). Each of
  // the five TPC-H tables with crafted rows is independently perturbed
  // at 30% (orphan orders, null dims, boundary balances — see the
  // crafted blocks above); wraps compose, one CTE per perturbed table.

  /** The TPC-H draw: each table perturbed at 30%, in this order, and
    * the params tag naming the perturbed ones (`li+ord`, `none`).
    */
  private def drawTpchPert(r: Random): (Pert, String) = {
    val on = Seq("lineitem" -> "li", "orders" -> "ord", "customer" -> "cust",
                 "supplier" -> "supp", "part" -> "part")
      .filter(_ => r.nextInt(100) < 30)
    (Pert(on.map(_._1).toSet),
     if (on.isEmpty) "none" else on.map(_._2).mkString("+"))
  }

  private def drawDate(r: Random, loYear: Int, hiYear: Int): LocalDate =
    LocalDate.of(loYear + r.nextInt(hiYear - loYear + 1),
                 1 + r.nextInt(12), 1 + r.nextInt(28))

  private val partTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val nameWords =
    Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
        "widget", "blue", "cold", "hot", "large", "new", "old", "red",
        "small")
  private def brand(r: Random): String = s"Brand#${1 + r.nextInt(25)}"

  /** Scan/aggregate/EXISTS bank: Q1, Q4, Q6, Q12, Q13, Q14, Q22. */
  private def genTpchA(r: Random, i: Int): FuzzCase = {
    val (p, pTag) = drawTpchPert(r)
    val L: TpchGen.Loader = p.load
    val (tag, params, q) = r.nextInt(7) match {
      case 0 =>
        val d = 60 + r.nextInt(61)
        ("q1", s"delta=$d", TpchGen.q1(L, d))
      case 1 =>
        val start = drawDate(r, 1995, 2001)
        val months = Seq(3, 6)(r.nextInt(2))
        val late = 30 + r.nextInt(61)
        ("q4", s"start=$start months=$months late=$late",
         TpchGen.q4(L, start, months, late))
      case 2 =>
        val y = 1995 + r.nextInt(6)
        val c = (2 + r.nextInt(8)) / 100.0
        val qc = 20 + r.nextInt(11)
        ("q6", s"y=$y c=$c q<$qc", TpchGen.q6(L, y, c, qc))
      case 3 =>
        val c1 = 20 + r.nextInt(21)
        val c2 = 60 + r.nextInt(61)
        ("q12", s"cuts=$c1/$c2", TpchGen.q12(L, c1, c2))
      case 4 =>
        val pr = priorities(r.nextInt(5))
        ("q13", s"excl=$pr", TpchGen.q13(L, pr))
      case 5 =>
        val start = drawDate(r, 1995, 2001)
        ("q14", s"start=$start", TpchGen.q14(L, start))
      case 6 =>
        val keys = r.shuffle((0 to 24).toList).take(7).sorted
        val cut = drawDate(r, 1998, 2001)
        ("q22", s"keys=${keys.mkString("/")} cut=$cut",
         TpchGen.q22(L, keys, cut))
    }
    FuzzCase(f"fz_tpcha_$i%03d", "tpch_a", s"$tag $params pert=$pTag",
             q.run, p.wrap(q.sql))
  }

  /** Join-pipeline bank: Q3, Q5, Q7, Q8, Q9, Q10, Q18. */
  private def genTpchB(r: Random, i: Int): FuzzCase = {
    val (p, pTag) = drawTpchPert(r)
    val L: TpchGen.Loader = p.load
    val (tag, params, q) = r.nextInt(7) match {
      case 0 =>
        val seg = segments(r.nextInt(5))
        val d = drawDate(r, 1996, 2000)
        ("q3", s"seg=$seg d=$d", TpchGen.q3(L, seg, d))
      case 1 =>
        val reg = r.nextInt(5)
        val y = 1995 + r.nextInt(6)
        ("q5", s"reg=$reg y=$y", TpchGen.q5(L, reg, y))
      case 2 =>
        val a = r.nextInt(5)
        val b = (a + 1 + r.nextInt(4)) % 5
        val y = 1995 + r.nextInt(5)
        ("q7", s"regs=$a/$b y=$y", TpchGen.q7(L, a, b, y))
      case 3 =>
        val t = partTypes(r.nextInt(6))
        val nk = r.nextInt(25)
        val y = 1995 + r.nextInt(5)
        ("q8", s"type=$t nation=$nk y=$y", TpchGen.q8(L, t, nk, y))
      case 4 =>
        val w = nameWords(r.nextInt(nameWords.size))
        ("q9", s"word=$w", TpchGen.q9(L, w))
      case 5 =>
        val start = drawDate(r, 1995, 2001)
        ("q10", s"start=$start", TpchGen.q10(L, start))
      case 6 =>
        val thr = 250 + r.nextInt(151)
        ("q18", s"qty>$thr", TpchGen.q18(L, thr))
    }
    FuzzCase(f"fz_tpchb_$i%03d", "tpch_b", s"$tag $params pert=$pTag",
             q.run, p.wrap(q.sql))
  }

  /** Subquery/threshold bank: Q2, Q11, Q15, Q16, Q17, Q19, Q20, Q21. */
  private def genTpchC(r: Random, i: Int): FuzzCase = {
    val (p, pTag) = drawTpchPert(r)
    val L: TpchGen.Loader = p.load
    val (tag, params, q) = r.nextInt(8) match {
      case 0 =>
        val t = partTypes(r.nextInt(6))
        val lo = 1 + r.nextInt(40)
        val hi = lo + 5 + r.nextInt(11)
        val reg = r.nextInt(5)
        ("q2", s"type=$t size=$lo..$hi reg=$reg",
         TpchGen.q2(L, t, lo, hi, reg))
      case 1 =>
        val reg = r.nextInt(5)
        val m = (3 + r.nextInt(4)) / 2.0 // 1.5..3.0
        ("q11", s"reg=$reg mult=$m", TpchGen.q11(L, reg, m))
      case 2 =>
        val start = drawDate(r, 1995, 2001)
        ("q15", s"start=$start", TpchGen.q15(L, start))
      case 3 =>
        val b = brand(r)
        val t = partTypes(r.nextInt(6))
        val sizes = r.shuffle((1 to 50).toList).take(8).sorted
        val cut = Seq(-500.0, -100.0, 0.0, 100.0, 500.0)(r.nextInt(5))
        ("q16", s"excl=$b/$t sizes=${sizes.mkString("/")} cut=$cut",
         TpchGen.q16(L, b, t, sizes, cut))
      case 4 =>
        val b = brand(r)
        val t = partTypes(r.nextInt(6))
        val f = (3 + r.nextInt(4)) / 20.0 // 0.15..0.30
        ("q17", s"b=$b t=$t frac=$f", TpchGen.q17(L, b, t, f))
      case 5 =>
        val bs = r.shuffle((1 to 25).toList).take(3).map(n => s"Brand#$n")
        val qs = Seq(1 + r.nextInt(10), 10 + r.nextInt(11),
                     20 + r.nextInt(11))
        ("q19", s"brands=${bs.mkString("/")} qlo=${qs.mkString("/")}",
         TpchGen.q19(L, bs, qs))
      case 6 =>
        val t = partTypes(r.nextInt(6))
        val m = (2 + r.nextInt(4)).toDouble
        ("q20", s"type=$t mult=$m", TpchGen.q20(L, t, m))
      case 7 =>
        val late = 60 + r.nextInt(61)
        val st = Seq("F", "O", "P")(r.nextInt(3))
        ("q21", s"late=$late status=$st", TpchGen.q21(L, late, st))
    }
    FuzzCase(f"fz_tpchc_$i%03d", "tpch_c", s"$tag $params pert=$pTag",
             q.run, p.wrap(q.sql))
  }

  // ---- driver --------------------------------------------------------

  private val families: Seq[(String, (Random, Int) => FuzzCase)] = Seq(
    "jaccard" -> genJaccard _,
    "containment" -> genContainment _,
    "topk" -> genTopk _,
    "cos_topk" -> genCosTopk _,
    "cos_pairs" -> genCosPairs _,
    "decon" -> genDecon _,
    "spans" -> genSpans _,
    "decon_spans" -> genDeconSpans _,
    "line_dedup" -> genLineDedup _,
    "dedup_keyed" -> genDedupKeyed _,
    "hour" -> genHour _,
    "agg" -> genAgg _,
    "kcenter" -> genKcenter _,
    "mmr" -> genMmr _,
    "topk_agg" -> genTopkAgg _,
    "fuzzy" -> genFuzzy _,
    "edit" -> genEdit _,
    "winsorize" -> genWinsorize _,
    "stratified" -> genStratified _,
    "heavy_grams" -> genHeavyGrams _,
    "sem_decon" -> genSemDecon _,
    "sessionize" -> genSessionize _,
    "interval_join" -> genIntervalJoin _,
    "range_join" -> genRangeJoin _,
    "chunk" -> genChunk _,
    "token_budget" -> genTokenBudget _,
    "rolling" -> genRolling _,
    "active_users" -> genActiveUsers _,
    "shard" -> genShard _,
    "hopping" -> genHopping _,
    "anomaly" -> genAnomaly _,
    "tpch_a" -> genTpchA _,
    "tpch_b" -> genTpchB _,
    "tpch_c" -> genTpchC _,
    "scd2" -> genScd2 _,
    "attribution" -> genAttribution _,
    "funnel" -> genFunnel _,
    "asof" -> genAsof _,
    "pagerank" -> genPagerank _,
    "window_frames" -> genWindowFrames _,
    "gopher" -> genGopher _,
    "cohort" -> genCohort _,
    "churn" -> genChurn _,
    "transitions" -> genTransitions _,
    "outage" -> genOutage _)

  /** Resolve a families CSV (or "all") against the registered list.
    * `firstN:K` selects the first K registration-order families — the
    * replay manifest's notation for historical "all families at the
    * time" sweeps (the list is append-only, so era = prefix).
    */
  private[tools] def resolveFamilies(spec: String)
      : Seq[(String, (Random, Int) => FuzzCase)] = spec match {
    case "all" => families
    case s if s.startsWith("firstN:") => families.take(s.drop(7).toInt)
    case csv =>
      val want = csv.split(",").toSet
      val got = families.filter { case (f, _) => want(f) }
      require(got.size == want.size,
        s"unknown families in '$csv' (matched ${got.map(_._1)})")
      got
  }

  /** One sweep: draw `n` cases round-robin over `fams` from `seed`, run
    * the Spark side into `outDir` (one parquet dir per case +
    * oracle_sql.json + fuzz_manifest.json for tools/local_check.py).
    * Returns (ok, err). Extracted from main so `Replay` can chain many
    * sweeps through one session.
    */
  private[tools] def runSweep(spark: SparkSession, sfDir: String,
                              outDir: String, n: Int, seed: Long,
                              fams: Seq[(String, (Random, Int) => FuzzCase)])
      : (Int, Int) = {
    new java.io.File(outDir).mkdirs()
    val rng = new Random(seed)
    // round-robin over families so every family gets ~n/|fams| draws
    val cases = (0 until n).map(i => fams(i % fams.size)._2(rng, i))

    var oracle = Map.empty[String, String]
    var manifest = Vector.empty[String]
    var nOk = 0
    var nErr = 0
    cases.foreach { c =>
      val t0 = System.nanoTime()
      try {
        c.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${c.name}")
        oracle += (c.name -> c.sql)
        nOk += 1
        val sec = (System.nanoTime() - t0) / 1e9
        manifest :+= s"""{"name":${Bench.jsonQuote(c.name)},"family":${
          Bench.jsonQuote(c.family)},"params":${Bench.jsonQuote(c.params)},"sec":${
          f"$sec%.2f"}}"""
        println(f"[fuzz] ${c.name} ${c.family}%-12s ${c.params}%-40s $sec%6.2fs")
      } catch { case e: Throwable =>
        nErr += 1
        manifest :+= s"""{"name":${Bench.jsonQuote(c.name)},"family":${
          Bench.jsonQuote(c.family)},"params":${Bench.jsonQuote(c.params)},"error":${
          Bench.jsonQuote(String.valueOf(e.getMessage))}}"""
        System.err.println(s"[fuzz] ${c.name} FAILED (${c.params}): " +
          e.toString)
      }
      Session.dropCaches(spark)
    }

    Verify.writeOracleSql(s"$outDir/oracle_sql.json", oracle)
    Files.writeString(Paths.get(s"$outDir/fuzz_manifest.json"),
      manifest.mkString("[", ",\n", "]"))
    println(s"[fuzz] done: $nOk ok, $nErr spark-side errors, " +
      s"seed=$seed n=$n families=${fams.map(_._1).mkString(",")}")
    (nOk, nErr)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 60
    val seed = if (args.length > 3) args(3).toLong else 9L
    val fams = resolveFamilies(args.lift(4).getOrElse("all"))
    require(fams.nonEmpty, s"no matching families in ${args.lift(4)}")
    val spark = Session.local(Session.defaultCpus)
    val (_, nErr) = runSweep(spark, sfDir, outDir, n, seed, fams)
    spark.stop()
    if (nErr > 0) sys.exit(2)
  }
}
