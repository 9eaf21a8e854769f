package graft

import org.apache.spark.sql.functions._

import graft.functions.CompressExpressions

class CompressSpec extends SparkSpec {
  import spark.implicits._

  private def ratios(texts: (Int, String)*): Map[Int, Double] =
    texts.toSeq.toDF("id", "text")
      .select(col("id"),
        (CompressExpressions.deflateLen(col("text")).cast("double") /
          octet_length(col("text"))).as("r"))
      .as[(Int, Double)].collect().toMap

  test("planted fixtures: repetition compresses, entropy doesn't") {
    // long-period repeat (the case token-level censuses miss): a 40-char
    // sentence repeated 50x
    val repetitive = "the quick brown fox jumps over the dog. " * 50
    // deterministic high-entropy junk: hex of distinct hashes
    val entropy = (1 to 200).map(i =>
      f"${scala.util.hashing.MurmurHash3.stringHash(i.toString)}%08x")
      .mkString
    val m = ratios(1 -> repetitive, 2 -> entropy)
    assert(m(1) < 0.05, s"repetitive ratio ${m(1)}")
    assert(m(2) > 0.5, s"entropy ratio ${m(2)}")
    assert(m(1) < m(2))
  }

  test("null in, null out; empty string is total (the ~2-byte block)") {
    val df = Seq((1, Option("abc")), (2, None), (3, Option("")))
      .toDF("id", "text")
      .select(col("id"), CompressExpressions.deflateLen(col("text")).as("n"))
    val rows = df.collect().map(r =>
      r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1).exists(_ > 0))
    assert(rows(2) === None)
    assert(rows(3).exists(n => n > 0 && n < 12))
  }

  test("deterministic across runs and codegen ≡ interpreted") {
    val texts = Seq(1 -> ("abcabc" * 100), 2 -> "short",
                    3 -> ("x" * 5000))
    val a = ratios(texts: _*)
    val b = ratios(texts: _*)
    assert(a === b)
    // interpreted path (direct eval) matches the codegen'd plan
    texts.foreach { case (id, t) =>
      val direct = CompressExpressions.deflatedLen(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toDouble /
        t.getBytes("UTF-8").length
      assert(math.abs(a(id) - direct) < 1e-12, s"id $id")
    }
  }

  test("doubling a repeat grows deflate length sublinearly") {
    val base = "lorem ipsum dolor sit amet " * 40
    val once = CompressExpressions.deflatedLen(
      org.apache.spark.unsafe.types.UTF8String.fromString(base))
    val twice = CompressExpressions.deflatedLen(
      org.apache.spark.unsafe.types.UTF8String.fromString(base + base))
    assert(twice < 2 * once)
  }

  test("SQL registration: deflate_len callable after extensions") {
    spark.sql("SELECT deflate_len('aaaaaaaaaa') AS n").collect()
      .foreach(r => assert(r.getLong(0) > 0))
  }
}
