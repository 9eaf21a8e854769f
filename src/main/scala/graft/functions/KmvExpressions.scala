package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** K-minimum-values sketch (Bar-Yossef et al. 2002; Beyer et al.
  * SIGMOD'07 for the set-operation estimators) — the SET-ALGEBRA
  * distinct sketch. HLL answers |A| and |A ∪ B|; KMV additionally
  * answers |A ∩ B| and Jaccard between sketched cohorts, the
  * audience-overlap / day-retention questions a warehouse actually
  * asks, still from kilobytes per cohort and never rescanning events.
  *
  * The sketch is the k smallest DISTINCT 64-bit hash values (unsigned
  * order). Two properties the specs pin:
  *  - merges are register-free SET unions — deterministic, order- and
  *    grouping-independent, incremental ≡ one-shot bit-for-bit;
  *  - below saturation (fewer than k distinct keys) the sketch IS the
  *    distinct hash set, so counts, intersections, and Jaccard are
  *    EXACT — which makes small-cohort queries oracle-checkable, with
  *    the same code path degrading to the (k−1)/U(k) estimator at
  *    scale.
  */
object KmvExpressions {

  /** Aggregate raw 64-bit hashes into one k-minimum-values sketch. */
  def kmvAgg(hashes: Column, k: Int): Column =
    Bridge.toColumn(KmvAgg(Bridge.toExpression(hashes), k)
      .toAggregateExpression())

  /** Distinct-count estimate (exact below saturation). */
  def kmvCount(sketch: Column, k: Int): Column =
    Bridge.toColumn(KmvCount(Bridge.toExpression(sketch), k))

  /** |A ∩ B| estimate (exact when |A ∪ B| < k). */
  def kmvIntersect(a: Column, b: Column, k: Int): Column =
    Bridge.toColumn(KmvIntersect(
      Bridge.toExpression(a), Bridge.toExpression(b), k))
}

/** Static sketch logic shared by aggregates, interpreted eval, and
  * generated code (the Bloom/Cms/Hll single-source-of-truth pattern).
  */
object Kmv {
  val MinK = 16
  val MaxK = 1 << 20 // 8 MiB of longs — past this, sketch ≈ the data

  /** Serializable singleton (a lambda field would sink the whole
    * expression tree when Spark ships it to executors).
    */
  object UnsignedOrder extends java.util.Comparator[java.lang.Long]
      with Serializable {
    override def compare(x: java.lang.Long, y: java.lang.Long): Int =
      java.lang.Long.compareUnsigned(x, y)
  }

  def requireK(k: Int, who: String): Unit =
    require(k >= MinK && k <= MaxK,
      s"$who: k must be in [$MinK, $MaxK], got $k")

  /** Unsigned 64-bit hash → (0, 1]: the rank statistic U(k). */
  def toUnit(h: Long): Double =
    ((h >>> 1).toDouble * 2.0 + (h & 1L).toDouble + 1.0) / 1.8446744073709552e19

  /** A null slot is a corrupt sketch, never valid data — rejected
    * EXPLICITLY (the Dd.requireSlot discipline): ArrayData.getLong on a
    * null slot silently reads garbage, and parquet round-trips
    * array<bigint> as containsNull=true, so the analysis-time check
    * alone cannot protect the persisted-table path.
    */
  def requireSlot(a: ArrayData, i: Int, who: String): Long = {
    if (a.isNullAt(i))
      throw new IllegalArgumentException(
        s"$who: sketch array has a null slot at $i — not a kmv_agg/" +
          "kmv_merge output")
    a.getLong(i)
  }

  private def toArray(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = requireSlot(a, i, "kmv"); i += 1 }
    out
  }

  /** Distinct-count estimate from a sketch sorted unsigned-ascending:
    * below saturation the sketch is the whole distinct hash set.
    */
  def countEstimate(sketch: ArrayData, k: Int): Long = {
    val n = sketch.numElements()
    if (n < k) n.toLong
    else math.round((k - 1).toDouble /
      toUnit(requireSlot(sketch, n - 1, "kmv_count")))
  }

  /** Set-operation statistics via the union sketch X = k-min(A ∪ B)
    * (Beyer et al.): returns (|X ∩ A ∩ B|, |X|, unionEstimate).
    */
  def interStats(aa: ArrayData, bb: ArrayData, k: Int)
      : (Int, Int, Long) = {
    val a = toArray(aa)
    val b = toArray(bb)
    // merge two unsigned-sorted arrays, distinct, keep first k
    val x = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var m = 0; var kInter = 0
    while (m < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length ||
        (i < a.length &&
          java.lang.Long.compareUnsigned(a(i), b(j)) <= 0)
      if (takeA && j < b.length && a(i) == b(j)) {
        x(m) = a(i); i += 1; j += 1; kInter += 1; m += 1
      } else if (takeA) { x(m) = a(i); i += 1; m += 1 }
      else { x(m) = b(j); j += 1; m += 1 }
    }
    val unionEst =
      if (m < k) m.toLong
      else math.round((k - 1).toDouble / toUnit(x(m - 1)))
    (kInter, m, unionEst)
  }

  def requireSketchType(e: Expression, who: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    e.dataType match {
      // containsNull=true is accepted because parquet round-trips the
      // sketch that way (the DdExpressions precedent — a persisted
      // sketch table is the API's whole point); null SLOTS are
      // rejected at runtime (Kmv.requireSlot) instead of silently
      // reading garbage
      case ArrayType(LongType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$who requires array<bigint> sketch input, got " +
          other.catalogString)
    }
  }
}

/** Shared buffer shape for both KMV aggregates: a bounded unsigned-
  * ordered distinct set. Partial→final ships ≤ k longs per group.
  */
trait KmvBufferedAgg extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
  def k: Int

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](Kmv.UnsignedOrder)

  protected def insert(buffer: java.util.TreeSet[java.lang.Long],
                       h: Long): Unit = {
    buffer.add(h)
    if (buffer.size > k) buffer.pollLast()
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buffer, it.next())
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long])
      : Array[Byte] = {
    val arr = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    Bloom.toBytes(arr)
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val set = createAggregationBuffer()
    Bloom.fromBytes(bytes).foreach(set.add(_))
    set
  }
}

/** Fold raw 64-bit hashes into a k-minimum-values sketch. */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvBufferedAgg with UnaryLike[Expression] {

  Kmv.requireK(k, prettyName)

  override def prettyName: String = "kmv_agg"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case LongType => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires bigint input (a 64-bit hash), got " +
          other.catalogString)
    }
  }

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow)
      : java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): KmvAgg =
    copy(child = c)
}

/** Union stored sketches: k smallest of the distinct-hash set union. */
case class KmvMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvBufferedAgg with UnaryLike[Expression] {

  Kmv.requireK(k, prettyName)

  override def prettyName: String = "kmv_merge"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes() = Kmv.requireSketchType(child, prettyName)

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow)
      : java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        insert(buffer, Kmv.requireSlot(arr, i, prettyName)); i += 1
      }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): KmvMergeAgg =
    copy(child = c)
}

/** Distinct-count estimate; exact below saturation. */
case class KmvCount(child: Expression, k: Int) extends UnaryExpression {
  Kmv.requireK(k, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_count"
  override def checkInputDataTypes() = Kmv.requireSketchType(child, prettyName)

  override protected def nullSafeEval(input: Any): Any =
    Kmv.countEstimate(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kmv.countEstimate($c, $k)")

  override protected def withNewChildInternal(c: Expression): KmvCount =
    copy(child = c)
}

/** |A ∩ B| estimate via the union sketch; exact when |A ∪ B| < k. */
case class KmvIntersect(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  Kmv.requireK(k, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_intersect"
  override def checkInputDataTypes() = {
    val l = Kmv.requireSketchType(left, prettyName)
    if (l.isSuccess) Kmv.requireSketchType(right, prettyName) else l
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (kInter, xSize, unionEst) = Kmv.interStats(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], k)
    if (xSize < k) kInter.toLong
    else math.round(kInter.toDouble * unionEst.toDouble / xSize)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val st = ctx.freshName("st")
      val kI = ctx.freshName("kI")
      val xS = ctx.freshName("xS")
      val uE = ctx.freshName("uE")
      s"""
         |scala.Tuple3 $st = graft.functions.Kmv.interStats($a, $b, $k);
         |int $kI = ((java.lang.Integer) $st._1()).intValue();
         |int $xS = ((java.lang.Integer) $st._2()).intValue();
         |long $uE = ((java.lang.Long) $st._3()).longValue();
         |${ev.value} = $xS < $k ? (long) $kI
         |  : java.lang.Math.round((double) $kI * (double) $uE / (double) $xS);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvIntersect = copy(l, r)
}

/** Jaccard(A, B) estimate: |X ∩ A ∩ B| / |X|; exact when |A ∪ B| < k. */
case class KmvJaccard(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  Kmv.requireK(k, prettyName)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kmv_jaccard"
  override def checkInputDataTypes() = {
    val l = Kmv.requireSketchType(left, prettyName)
    if (l.isSuccess) Kmv.requireSketchType(right, prettyName) else l
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (kInter, xSize, _) = Kmv.interStats(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], k)
    if (xSize == 0) 0.0 else kInter.toDouble / xSize
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val st = ctx.freshName("st")
      val kI = ctx.freshName("kI")
      val xS = ctx.freshName("xS")
      s"""
         |scala.Tuple3 $st = graft.functions.Kmv.interStats($a, $b, $k);
         |int $kI = ((java.lang.Integer) $st._1()).intValue();
         |int $xS = ((java.lang.Integer) $st._2()).intValue();
         |${ev.value} = $xS == 0 ? 0.0 : (double) $kI / (double) $xS;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvJaccard = copy(l, r)
}
