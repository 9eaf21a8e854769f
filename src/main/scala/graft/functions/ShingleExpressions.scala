package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-shingle primitives — the scan-speed path for text dedup.
  *
  * Building n-gram shingles as strings materializes ~|text| short strings
  * per document (500+ allocations, then sorts/compares/shuffles of 12-byte
  * payloads). At 100 TB that dominates everything downstream. These
  * expressions keep shingles as 64-bit xxhash values from the first
  * moment: `ShingleHashes` slides over the document's UTF-8 bytes hashing
  * each n-char window in place (zero allocation per window), returning the
  * SORTED DISTINCT hash set; set intersection and MinHash then run on
  * primitive longs.
  *
  * Correctness note: Jaccard on hash sets equals Jaccard on shingle sets
  * up to 64-bit collisions inside a single comparison (P < 10^-13 for
  * thousand-shingle docs) — the standard trade every production shingle
  * pipeline makes.
  */
object ShingleExpressions {
  def shingleHashes(text: Column, n: Int): Column =
    Bridge.toColumn(ShingleHashes(Bridge.toExpression(text), n))

  def shingleHashesPos(text: Column, n: Int): Column =
    Bridge.toColumn(ShingleHashesPos(Bridge.toExpression(text), n))

  def sortedLongIntersectCount(a: Column, b: Column): Column =
    Bridge.toColumn(SortedLongIntersectCount(
      Bridge.toExpression(a), Bridge.toExpression(b)))

  def minhashSigFromHashes(hashes: Column, k: Int): Column =
    Bridge.toColumn(MinHashSigFromHashes(Bridge.toExpression(hashes), k))

  /** xxhash64 of every n-char window of `s` IN POSITION ORDER — the
    * ONE hashing definition (ASCII fast path + O(len) multi-byte
    * boundary table) shared by ShingleHashes (which sorts and dedups
    * it) and ShingleHashesPos (which returns it as-is): a seed or
    * boundary-walk change in one can no longer diverge the set and
    * positional variants on the same document. Returns null-free
    * windows; empty when numChars < n.
    *
    * Multi-byte path: ONE forward pass computes every char's byte
    * offset, then windows hash in place from the boundary table —
    * same bytes as substringSQL(i+1, n) per window. (The substringSQL
    * formulation re-walked the string from byte 0 for every window:
    * O(len²), a single-task straggler on a megabyte CJK document.)
    */
  private[functions] def windowHashes(s: UTF8String, n: Int): Array[Long] = {
    val numBytes = s.numBytes
    val numChars = s.numChars()
    if (numChars < n) return Array.emptyLongArray
    val m = numChars - n + 1
    val out = new Array[Long](m)
    if (numChars == numBytes) {
      // ASCII: char windows are byte windows — hash in place
      var i = 0
      while (i < m) {
        out(i) = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset + i, n, TextExpressions.Seed)
        i += 1
      }
    } else {
      val bounds = new Array[Int](numChars + 1)
      var off = 0
      var c = 0
      while (c < numChars) {
        bounds(c) = off
        off += UTF8String.numBytesForFirstByte(s.getByte(off))
        c += 1
      }
      bounds(numChars) = numBytes
      var i = 0
      while (i < m) {
        out(i) = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset + bounds(i),
          bounds(i + n) - bounds(i), TextExpressions.Seed)
        i += 1
      }
    }
    out
  }
}

/** text → sorted distinct xxhash64 values of all n-CHAR windows.
  * ASCII fast path hashes byte windows in place; multi-byte text falls
  * back to per-window substring (chars ≠ bytes). Texts shorter than n
  * yield an EMPTY set (no window exists — the same semantics as the SQL
  * formulation `substr(text,i,n) for i ≤ len-n+1`; such docs simply never
  * pair).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes() = {
    // n ≤ 0 would silently shingle every doc to {hash("")} — all-pairs
    // Jaccard 1.0, catastrophic dedup output; fail at analysis instead
    if (n < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName n must be >= 1, got $n")
    else
      TextExpressions.requireType(child, prettyName, "string")(_ == StringType)
  }

  def compute(s: UTF8String): GenericArrayData = {
    val out = ShingleExpressions.windowHashes(s, n)
    val m = out.length
    if (m == 0) return new GenericArrayData(out)
    Arrays.sort(out)
    // in-place dedup of the sorted array
    var w = 0
    var r = 1
    while (r < m) {
      if (out(r) != out(w)) { w += 1; out(w) = out(r) }
      r += 1
    }
    val len = w + 1
    new GenericArrayData(
      if (len == m) out else Arrays.copyOf(out, len))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingler", this,
      classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** text → xxhash64 of every n-CHAR window IN POSITION ORDER (slot i =
  * hash of the window starting at char i, duplicates kept). The
  * positional twin of ShingleHashes for substring-level dedup: span
  * detection needs to know WHERE a gram sits, so sorting/dedup would
  * destroy exactly the information it exists to carry. Same ASCII
  * fast path / multi-byte boundary table; texts shorter than n yield
  * an empty array.
  */
case class ShingleHashesPos(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_pos"
  override def checkInputDataTypes() = {
    if (n < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName n must be >= 1, got $n")
    else
      TextExpressions.requireType(child, prettyName, "string")(_ == StringType)
  }

  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(ShingleExpressions.windowHashes(s, n))

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingler", this,
      classOf[ShingleHashesPos].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashesPos =
    copy(child = c)
}

/** Merge-count of common elements between two sorted long arrays. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect_count"
  override def checkInputDataTypes() = {
    val bad = Seq(left, right).find(_.dataType match {
      case ArrayType(LongType, _) => false; case _ => true
    })
    bad.map(e => TextExpressions.requireType(e, prettyName,
        "array<bigint>")(_ => false))
      .getOrElse(org.apache.spark.sql.catalyst.analysis
        .TypeCheckResult.TypeCheckSuccess)
  }

  // null slots equal nothing — skipped, not read as 0 (getLong on a null
  // slot returns garbage 0 that would count a phantom element; the SQL
  // surface can legally pass containsNull arrays)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |int $na = $a.numElements(), $nb = $b.numElements();
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    long $x = $a.getLong($i); long $y = $b.getLong($j);
         |    if ($x == $y) { $c++; $i++; $j++; }
         |    else if ($x < $y) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedLongIntersectCount = copy(l, r)
}

/** MinHash signature from pre-hashed shingles: slot i = min of
  * (h·A_i + B_i) over the hash set — the "one hash, k permutations"
  * construction, with no byte hashing at all.
  */
case class MinHashSigFromHashes(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_hashes"
  override def checkInputDataTypes() = {
    // k < 1 would NegativeArraySizeException per task at execution;
    // fail at analysis like lsh_bucket's bits check
    if (k < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName k must be >= 1, got $k")
    else
      TextExpressions.requireType(child, prettyName, "array<bigint>") {
        case ArrayType(LongType, _) => true; case _ => false
      }
  }

  private lazy val as: Array[Long] =
    Array.tabulate(k)(i => SetExpressions.splitmix64(2L * i + 1) | 1L)
  private lazy val bs: Array[Long] =
    Array.tabulate(k)(i => SetExpressions.splitmix64(2L * i + 2))

  def compute(arr: ArrayData): GenericArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    val ne = arr.numElements()
    while (e < ne) {
      // a null slot is not hash 0: it is skipped, as SQL set functions
      // skip null elements
      if (!arr.isNullAt(e)) {
        val h = arr.getLong(e)
        var i = 0
        while (i < k) {
          val v = h * as(i) + bs(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhasher", this,
      classOf[MinHashSigFromHashes].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override protected def withNewChildInternal(
      c: Expression): MinHashSigFromHashes = copy(child = c)
}
