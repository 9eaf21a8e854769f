package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryMetrics, Session, SparkEntry, Tables}

/** Empirical scaling curve for the headline dedup/ANN operators (r10
  * verdict task 1 — convert the 100 TB claim from design audit to
  * measurement).
  *
  * Builds scaled corpora at Rx the base scale factor by self-union:
  * `doc_id`/`vec_id` remapped by +k·1,000,000 per replica (disjoint from
  * every id-arithmetic range the queries use: `q_containment_join`'s
  * +100000 snippet re-key, `q_knn_join`'s vec_id<5 probe split), and
  * `text` passed through a per-replica Caesar rotation over
  * [a-zA-Z0-9]. The rotation is the load-bearing choice: it preserves
  * length (n_chars stays truthful) and within-replica shingle equality
  * (every planted near-dup pair recurs in every replica at its original
  * Jaccard), while making shingles across replicas disjoint — i.e. Rx
  * data means R× more DISTINCT documents with the same df distribution,
  * the realistic growth model. A verbatim self-union would instead
  * multiply every shingle's df by R, forcing Θ(R²) candidate growth on
  * ANY posting-based algorithm — that measures the synthetic data's
  * pathology, not the engine (and the true answer itself would grow
  * Θ(R²): every doc gains R−1 verbatim clones above any τ). Embeddings
  * replicate verbatim: ANN cost is corpus-scan/IO-bound, and identical
  * vectors don't change list balance or probe cost.
  *
  * Usage (env SPARK_GRAFT_CPUS / SPARK_GRAFT_RUNS as in Bench/Probe):
  *   runMain graft.tools.ScaleCurve [baseSfDir] [workDir] [scalesCsv] [qCsv]
  * defaults: /root/testdata/sf0.1  target/scale  1,2,4,8  headline-5.
  *
  * Emits one [scale] line per (query, scale) with wall seconds (min over
  * runs, cold cache) and Spark job count, then a summary table with two
  * fitted exponents per query: `expFit` = least-squares slope of
  * ln(t) vs ln(R) over all scales (constant-overhead-contaminated at
  * sub-second times), and `expTail` = log2(t_max / t_max/2), the last
  * doubling's slope — the number that predicts the 100× story.
  */
object ScaleCurve {
  val headline: Seq[String] = Seq(
    "q_ngram_jaccard", "q_minhash_lsh", "q_containment_join",
    "q_ivfpq_topk", "q_knn_join")

  /** Replica id offset: far above base ids (≤4999 at sf0.1) and far
    * below nothing — chosen so replica ranges never collide with each
    * other or with q_containment_join's +100000 snippet re-key.
    */
  val Span = 1000000L

  private val alnum =
    ('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString

  /** Per-replica seeded permutation within each character class
    * (lowercase, uppercase, digits); k=0 is the identity. A seeded
    * SHUFFLE rather than a Caesar rotation: rotations repeat at
    * k ≡ 0 (mod 26), so replica 26 of a 32× build would share every
    * letter shingle with replica 0 (cross-replica near-dup pairs +
    * inflated dfs — exactly the pathology the transform exists to
    * avoid); two independent random permutations agree on a whole
    * 12-char gram with vanishing probability.
    */
  private def rotated(k: Int): String = {
    def perm(s: String) =
      new scala.util.Random(k * 7919L + s.head.toLong)
        .shuffle(s.toList).mkString
    if (k == 0) alnum
    else perm(('a' to 'z').mkString) + perm(('A' to 'Z').mkString) +
      perm(('0' to '9').mkString)
  }

  private def rotateText(c: Column, k: Int): Column =
    if (k == 0) c else translate(c, alnum, rotated(k))

  /** Build (if absent) a scaled twin dir containing documents.parquet +
    * embeddings.parquet — the only tables the headline queries read.
    */
  def ensureScaled(spark: SparkSession, baseDir: String, workDir: String,
                   scale: Int): String = {
    val dir = s"$workDir/x$scale"
    if (Files.exists(Paths.get(s"$dir/embeddings.parquet"))) return dir
    val docs = Tables.load(spark, baseDir, "documents")
    val emb = Tables.load(spark, baseDir, "embeddings")
    val sdocs = (0 until scale).map { k =>
      docs.select((col("doc_id") + lit(k * Span)).as("doc_id"),
                  rotateText(col("text"), k).as("text"),
                  col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    val semb = (0 until scale).map { k =>
      emb.select((col("vec_id") + lit(k * Span)).as("vec_id"),
                 col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    sdocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    semb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** ln-ln least-squares slope over (scale, seconds) points. */
  def fitExponent(pts: Seq[(Int, Double)]): Double = {
    val xs = pts.map { case (s, _) => math.log(s.toDouble) }
    val ys = pts.map { case (_, t) => math.log(t) }
    val n = xs.size.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val vx = xs.map(x => (x - mx) * (x - mx)).sum
    if (vx == 0) 0.0 else cov / vx
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("target/scale")
    val scales = args.lift(2).getOrElse("1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val qs = args.lift(3).map(_.split(",").toSeq).getOrElse(headline)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt

    val spark = Session.local(Session.defaultCpus)

    val dirs = scales.map(s => s -> ensureScaled(spark, baseDir, workDir, s))
      .toMap

    // (query, scale) -> (min seconds, rows, jobs in the min run)
    var res = Map.empty[(String, Int), (Double, Long, Int)]
    for (q <- qs; s <- scales) {
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      val best = (1 to runs).map { _ =>
        Session.dropCaches(spark)
        val ((sec, n), m) = QueryMetrics.measure(spark) {
          val t0 = System.nanoTime()
          val n = fn(spark, dirs(s)).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        (sec, n, m.jobs)
      }.minBy(_._1)
      res += ((q, s) -> best)
      println(f"[scale] $q%-22s x$s%-2d ${best._1}%8.2fs rows=${best._2}%-8d " +
        f"jobs=${best._3}")
    }

    println()
    println("| query | " + scales.map(s => s"x$s (s)").mkString(" | ") +
      " | expFit | expTail |")
    println("|---|" + ("---|" * (scales.size + 2)))
    qs.foreach { q =>
      val pts = scales.map(s => s -> res((q, s))._1)
      val expFit = fitExponent(pts)
      val (sMax, tMax) = pts.last
      val expTail = pts.find(_._1 * 2 == sMax) match {
        case Some((_, tHalf)) => math.log(tMax / tHalf) / math.log(2.0)
        case None => Double.NaN
      }
      println(s"| $q | " +
        pts.map { case (_, t) => f"$t%.2f" }.mkString(" | ") +
        f" | $expFit%.2f | $expTail%.2f |")
    }
    spark.stop()
  }
}
