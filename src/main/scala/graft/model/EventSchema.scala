package graft.model

import org.apache.spark.sql.types._

/** The reference's clickstream event schema (SURVEY.md §1.2), declared
  * once for schema-on-read. The producer emits these fields as JSON
  * (reference: kafka/producer/produce_events.py:34-45); every consumer
  * reads defensively with nulls tolerated
  * (reference: airflow/dags/daily_kpis.py:117-129).
  *
  * `event_ts` stays a string here — parse with [[Kpis.eventTime]] at
  * use sites so the missing/garbled-timestamp fallback
  * (reference: airflow/dags/ingest_clickstream_to_s3.py:44-51) is
  * expressible as `coalesce`.
  */
object EventSchema {
  val CorruptCol = "_corrupt_record"

  val schema: StructType = StructType(Seq(
    StructField("event_ts", StringType),
    StructField("user_id", StringType),
    StructField("session_id", StringType),
    StructField("event_type", StringType),
    StructField("page", StringType),
    StructField("product_id", StringType),
    StructField("price", DoubleType),
    StructField("currency", StringType),
    StructField("referrer", StringType),
    StructField("user_agent", StringType),
  ))

  /** schema + corrupt-record sidecar column for PERMISSIVE reads —
    * reproduces the reference's skip-malformed-lines tolerance
    * (reference: airflow/dags/daily_kpis.py:104-107) while keeping the
    * bad lines countable. */
  val schemaWithCorrupt: StructType =
    schema.add(StructField(CorruptCol, StringType))
}
