package graft.gen

import org.apache.spark.sql.DataFrame

/** Kafka producer sink (reference: kafka/producer/produce_events.py:
  * 77-106 — the backpressure-safe produce loop; S3 in SURVEY.md §2.1).
  *
  * Spark's Kafka sink subsumes the reference's hand-rolled retry/flush
  * logic: batching, retries and backpressure live in the Kafka
  * producer client config, and Structured Streaming checkpointing adds
  * at-least-once delivery. No broker ships in this container, so this
  * stays a configuration surface (the transform is the tested part:
  * event rows → JSON `value` bytes, exactly the producer's
  * json.dumps → produce shape).
  */
object KafkaSink {

  /** Batch write: one JSON message per event row. */
  def write(events: DataFrame, bootstrap: String,
            topic: String = "clickstream.events"): Unit =
    toMessages(events)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()

  /** The producer's wire format (produce_events.py:82): whole event as
    * one JSON object in the message value, no key. Factored out so the
    * serialization is unit-testable without a broker. Columns named in
    * `keep` are carried beside `value` instead of serialized into it. */
  def toMessages(events: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val fields = events.columns.toIndexedSeq.filterNot(keep.contains)
    events.select(to_json(struct(fields.map(col): _*)).as("value") +: keep.map(col): _*)
  }
}
