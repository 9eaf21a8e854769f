package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks

/** The parquet-native bloom-filter layout must actually materialize
  * filters in the footers (an option typo would silently write plain
  * files and the census query could never tell) and stay data-invariant.
  */
class BloomLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bloomFilterWrite puts filters in footers for exactly the asked columns") {
    val dir = s"${Sinks.scratchRoot}/bloom_spec"
    Sinks.bloomFilterWrite(
      Tables.load(spark, sfDir, "events")
        .select($"event_id", $"user_id", $"value"),
      Seq("event_id", "user_id"), dir, ndv = 10000L)

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      def off(c: String): Long = {
        import scala.jdk.CollectionConverters._
        rg.getColumns.asScala
          .find(_.getPath.toDotString == c).get.getBloomFilterOffset
      }
      assert(off("event_id") >= 0, "event_id bloom filter missing")
      // parquet-mr drops the filter when a chunk stays fully
      // dictionary-encoded (the dictionary IS exact membership) —
      // user_id's ~1k distinct values hit that path: assert the
      // dictionary is there in lieu of the filter, so either structure
      // can prune a point probe
      import scala.jdk.CollectionConverters._
      val uidCol = rg.getColumns.asScala
        .find(_.getPath.toDotString == "user_id").get
      assert(off("user_id") >= 0 ||
        uidCol.getEncodings.asScala.exists(_.toString.contains("DICT")),
        "user_id has neither bloom filter nor dictionary")
      assert(off("value") === -1, "value must NOT carry a filter")

      // the filter must answer membership: a present id is (always)
      // maybe-present; the filter is useful only if SOME absent id
      // tests negative
      import scala.jdk.CollectionConverters._
      val cd = rg.getColumns.asScala
        .find(_.getPath.toDotString == "event_id").get
      val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(cd)
      assert(bf != null)
      val present = spark.read.parquet(dir)
        .select($"event_id").as[Long].head()
      assert(bf.findHash(bf.hash(present)))
      val negatives = (1 to 1000)
        .count(i => !bf.findHash(bf.hash(-1000000L - i)))
      assert(negatives > 900, s"only $negatives/1000 absent ids pruned")
    } finally reader.close()

    // data-invariance: the layout changes bytes, never rows
    val back = spark.read.parquet(dir)
      .agg(count(lit(1)), sum($"user_id")).as[(Long, Long)].head()
    val orig = Tables.load(spark, sfDir, "events")
      .agg(count(lit(1)), sum($"user_id")).as[(Long, Long)].head()
    assert(back === orig)
  }
}
