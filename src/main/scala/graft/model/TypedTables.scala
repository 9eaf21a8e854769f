package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.Tables

/** Typed veneer over the engine's DataFrame core (SURVEY §1.3: the
  * reference is dynamically typed end-to-end, so `DataFrame` is the
  * faithful surface; `Dataset[T]` is offered where compile-time field
  * checks help).
  */

// testdata tables (FIXTURES.md §B)
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)
case class Document(doc_id: Long, text: String, lang: String,
                    source: String, n_chars: Long)
case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)

object TypedTables {
  def events(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    Tables.load(spark, dir, "events").as[Event]
  }
  def documents(spark: SparkSession, dir: String): Dataset[Document] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").as[Document]
  }
  def embeddings(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings").as[Embedding]
  }
  def nations(spark: SparkSession, dir: String): Dataset[Nation] = {
    import spark.implicits._
    Tables.load(spark, dir, "nation").as[Nation]
  }
}
