package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text-dedup fast path. Both are
  * single-pass, allocation-light, and implement `doGenCode` so they stay
  * inside whole-stage codegen — the preference order the engine follows:
  * built-in functions > native Expression > UDF (SURVEY §4.3).
  */
object TextExpressions {
  val Seed = 42L

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._

  /** Shared input-type guard (ExpectsInputTypes is private[sql]). */
  def requireType(e: Expression, name: String, what: String)(
      ok: DataType => Boolean): TypeCheckResult =
    if (ok(e.dataType)) TypeCheckSuccess
    else TypeCheckFailure(
      s"$name requires $what argument, got ${e.dataType.catalogString}")

  /** Column API: 64-bit SimHash of a token array. */
  def simhash64(tokens: Column): Column =
    Bridge.toColumn(SimHash64(Bridge.toExpression(tokens), Seed))

  /** Column API: polynomial rolling hash of a string (base-31 over UTF-8
    * bytes, mod 2^64) — the document-fingerprint primitive.
    */
  def rollingHash(text: Column): Column =
    Bridge.toColumn(RollingHash(Bridge.toExpression(text)))
}

/** 64-bit SimHash over an array of tokens: each token's xxhash64 votes ±1
  * on every bit position; output bit j is the sign of the tally. Hamming
  * distance between simhashes approximates token-multiset distance, so
  * near-dup candidates come from equality joins on 16-bit bands
  * (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal).
  */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes() =
    TextExpressions.requireType(child, prettyName, "array<string>") {
      case ArrayType(StringType, _) => true; case _ => false
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUnsafeBytes(
          arr.getUTF8String(i).getBaseObject,
          arr.getUTF8String(i).getBaseOffset,
          arr.getUTF8String(i).numBytes, seed)
        var j = 0
        while (j < 64) {
          counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    UTF8String $s = $arr.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(),
         |                       $s.numBytes(), ${seed}L);
         |    for (int $j = 0; $j < 64; $j++) {
         |      $counts[$j] += ((($h >>> $j) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) ${ev.value} |= (1L << $j);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** Polynomial rolling hash (h = 31·h + byte, wrapping 64-bit) over the
  * UTF-8 bytes of a string. Cheap, order-sensitive, and incremental — the
  * standard document-fingerprint / chunk-boundary primitive.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def checkInputDataTypes() =
    TextExpressions.requireType(child, prettyName, "string")(_ == StringType)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = 31L * h + bytes(i); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $str.getBytes();
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  ${ev.value} = 31L * ${ev.value} + $b[$i];
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
}
