package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Set/sketch expressions for the dedup hot path.
  *
  * `SortedIntersectCount` replaces `size(array_intersect(a,b))` in the
  * near-dup verify step: array_intersect builds a hash set and an output
  * array per row; the merge-count is O(n+m) with zero allocation — on
  * hundreds of thousands of candidate pairs with ~400-element shingle sets
  * that is the difference between a verify stage that keeps up with the
  * join and one that dominates the query.
  */
object SetExpressions {
  /** SplitMix64 finalizer — the mix for MinHash slot constants
    * (`MinHashSigFromHashes`).
    */
  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Count of common elements between two SORTED string arrays (merge scan).
  * Inputs must be sorted ascending (graft.dedup shingle sets are built with
  * array_sort) — unsorted inputs give undefined counts, same contract as a
  * merge join.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def checkInputDataTypes() = {
    val bad = Seq(left, right).find(_.dataType match {
      case ArrayType(StringType, _) => false; case _ => true
    })
    bad.map(e => TextExpressions.requireType(e, prettyName,
        "array<string>")(_ => false))
      .getOrElse(org.apache.spark.sql.catalyst.analysis
        .TypeCheckResult.TypeCheckSuccess)
  }

  // null elements equal nothing — skip them instead of NPEing on
  // getUTF8String (the type check accepts containsNull arrays, so the
  // SQL surface can legally pass them; array_sort puts nulls last)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |int $na = $a.numElements(), $nb = $b.numElements();
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($cmp == 0) { $c++; $i++; $j++; }
         |    else if ($cmp < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(l, r)
}
