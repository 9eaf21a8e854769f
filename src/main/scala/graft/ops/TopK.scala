package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k as a mergeable aggregate.
  *
  * `row_number().over(Window.partitionBy(g).orderBy(o))` + `filter(rn<=k)`
  * is the declarative top-k, but it materializes and SORTS every group in
  * one task — with 3 group values over 100 TB that is 3 executors sorting
  * 33 TB each. This Aggregator keeps only k rows per partial buffer, so
  * the heavy lifting happens map-side and the shuffle carries ≤ k rows per
  * (partition, group): the same partial/final shape as a sum.
  *
  * Usage (typed):
  *   ds.groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
  *     .agg(TopK.topKTriplesOpt(k).toColumn)
  */
class TopKAggregator[A](k: Int, ord: Ordering[A],
                        enc: Encoder[A], seqEnc: Encoder[Seq[A]])
    extends Aggregator[A, Seq[A], Seq[A]] {

  // buffer: descending-sorted, length ≤ k
  override def zero: Seq[A] = Vector.empty

  private def insert(buf: Seq[A], a: A): Seq[A] = {
    if (buf.length >= k && ord.gteq(buf.last, a)) buf
    else {
      val (hi, lo) = buf.span(b => ord.gteq(b, a))
      ((hi :+ a) ++ lo).take(k)
    }
  }

  override def reduce(buf: Seq[A], a: A): Seq[A] = insert(buf, a)

  override def merge(b1: Seq[A], b2: Seq[A]): Seq[A] =
    b2.foldLeft(b1)(insert)

  override def finish(r: Seq[A]): Seq[A] = r

  override def bufferEncoder: Encoder[Seq[A]] = seqEnc
  override def outputEncoder: Encoder[Seq[A]] = seqEnc
}

/** Top-k plus a rider ROW COUNT in one mergeable buffer — the eval-grid
  * accounting shape: recall needs the per-group top-k, precision needs
  * the group's total candidate count, and computing them as separate
  * consumers of an (unpinned) scored frame re-runs the whole scan while
  * a count WINDOW defeats the rank window's map-side group-limit and
  * ships every row to |groups| partitions. One partial-aggregating
  * buffer gives both from a single scan with a shuffle of ≤ k rows + one
  * long per (partition, group) — the same partial/final shape as a sum,
  * at 100 TB as at 2k rows.
  */
class TopKCountAggregator[A](k: Int, ord: Ordering[A],
                             bufEnc: Encoder[(Long, Seq[A])])
    extends Aggregator[A, (Long, Seq[A]), (Long, Seq[A])] {

  override def zero: (Long, Seq[A]) = (0L, Vector.empty)

  // buffer seq: descending-sorted by ord, length ≤ k (TopKAggregator's
  // insert discipline)
  private def insert(buf: Seq[A], a: A): Seq[A] =
    if (buf.length >= k && ord.gteq(buf.last, a)) buf
    else {
      val (hi, lo) = buf.span(b => ord.gteq(b, a))
      ((hi :+ a) ++ lo).take(k)
    }

  override def reduce(b: (Long, Seq[A]), a: A): (Long, Seq[A]) =
    (b._1 + 1L, insert(b._2, a))

  override def merge(b1: (Long, Seq[A]),
                     b2: (Long, Seq[A])): (Long, Seq[A]) =
    (b1._1 + b2._1, b2._2.foldLeft(b1._2)(insert))

  override def finish(r: (Long, Seq[A])): (Long, Seq[A]) = r

  override def bufferEncoder: Encoder[(Long, Seq[A])] = bufEnc
  override def outputEncoder: Encoder[(Long, Seq[A])] = bufEnc
}

object TopK {
  /** Smallest-k of (score, id) pairs — score ASCENDING, id ascending on
    * ties — plus the group's total row count (distance ranks: pqEval's
    * ADC top-k + candidate-volume accounting in one pass).
    */
  def topKPairsAscWithCount(k: Int): TopKCountAggregator[(Double, Long)] = {
    val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (s, id) => (-s, -id)
    }
    new TopKCountAggregator[(Double, Long)](k, ord,
      org.apache.spark.sql.Encoders.kryo[(Long, Seq[(Double, Long)])])
  }

  /** Largest-k of (score, id) pairs — score DESCENDING, id ascending on
    * ties — plus the group's total row count (similarity ranks:
    * annEval's per-(probe, nprobe) top-k + candidate volume in one
    * pass).
    */
  def topKPairsDescWithCount(k: Int): TopKCountAggregator[(Double, Long)] = {
    val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (s, id) => (s, -id)
    }
    new TopKCountAggregator[(Double, Long)](k, ord,
      org.apache.spark.sql.Encoders.kryo[(Long, Seq[(Double, Long)])])
  }

  /** Top-k of (score, key1, key2) rows over a NULLABLE score: score
    * descending, None below every real score (desc-nulls-last — exactly
    * where `ORDER BY s DESC` puts null rows in both Spark and the SQL
    * twin), then key1/key2 ascending — the exact tie discipline of the
    * window top-k (q_topk_per_group), so both strategies share one
    * oracle. A primitive-Double score NPEs at encode time on a null
    * (r9 perturbation-fuzz finding: the window strategy serves
    * null-score rows at the bottom of a short group, the typed
    * Aggregator strategy crashed on the same input — "two physical
    * strategies, one result" requires the nullable form wherever the
    * score column is nullable).
    */
  def topKTriplesOpt(k: Int): TopKAggregator[(Option[Double], Long, Int)] = {
    implicit val tripleEnc: Encoder[(Option[Double], Long, Int)] =
      org.apache.spark.sql.Encoders.product[(Option[Double], Long, Int)]
    val ord =
      Ordering.by[(Option[Double], Long, Int), (Boolean, Double, Long, Int)] {
        case (s, k1, k2) =>
          (s.isDefined, s.getOrElse(Double.NegativeInfinity), -k1, -k2)
      }
    new TopKAggregator[(Option[Double], Long, Int)](k, ord, tripleEnc,
      org.apache.spark.sql.Encoders.kryo[Seq[(Option[Double], Long, Int)]])
  }
}
