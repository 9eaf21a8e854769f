package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks
import graft.multimodal.MultimodalOps
import graft.streaming.StreamingOps

class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = MultimodalOps.toMediaTable(
    Tables.load(spark, sfDir, "documents"))

  test("media table schema: binary payload + typed metadata") {
    val s = media.schema
    assert(s("media").dataType.typeName === "binary")
    assert(s("format").dataType.typeName === "string")
    assert(s("width").dataType.typeName === "integer")
  }

  test("feature extraction is deterministic across partitionings") {
    val a = MultimodalOps.extractFeatures(spark, media)
      .collect().sortBy(_.doc_id)
    val b = MultimodalOps.extractFeatures(spark, media.repartition(7))
      .collect().sortBy(_.doc_id)
    assert(a.length === b.length && a.length > 0)
    assert(a.zip(b).forall { case (x, y) =>
      x.doc_id == y.doc_id && x.n_bytes == y.n_bytes &&
        x.features.toSeq == y.features.toSeq })
    assert(a.forall(_.features.length === 8))
  }

  test("metadata predicates do not read the media payload column") {
    val dir = s"${Sinks.scratchRoot}/media_parquet"
    media.write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter($"format" === "fake/png" && $"width" > 100)
      .select($"doc_id", $"width")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("EqualTo(format,fake/png)"), s"filter not pushed:\n$scan")
    val rsIdx = scan.indexOf("ReadSchema")
    assert(rsIdx >= 0, s"no ReadSchema in plan:\n$scan")
    assert(!scan.substring(rsIdx).contains("media"),
      s"payload bytes read for a metadata-only query:\n$scan")
    assert(q.count() > 0)
  }

  test("resize shrinks payload, frame sampler strides") {
    val resized = MultimodalOps.resize(spark, media, 64, 64).collect()
    val orig = media.as[MultimodalOps.MediaRow].collect()
      .map(r => r.doc_id -> r.media.length).toMap
    assert(resized.forall(r => r.media.length <= orig(r.doc_id)))
    assert(resized.forall(r => r.width === 64 && r.height === 64))
    val frames = MultimodalOps.sampleFrames(spark, media, stride = 2)
    assert(frames.filter($"frame_idx" % 2 =!= 0).isEmpty)
  }

  test("streaming windowed rollup equals the batch rollup") {
    val events = Tables.load(spark, sfDir, "events")
      .select($"ts", $"event_type", $"value")
    val dir = s"${Sinks.scratchRoot}/stream_in"
    events.write.mode("overwrite").parquet(dir)
    val batch = StreamingOps.windowedRollup(events)
      .orderBy($"hour_start", $"event_type")
      .as[(String, String, Long, Double)].collect().toSeq

    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = StreamingOps.windowedRollup(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rollup_test")
      .orderBy($"hour_start", $"event_type")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === batch)
  }
}
