package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming raw-ingest stage
  * (reference: airflow/dags/ingest_clickstream_to_s3.py — Kafka poll
  * window → event-time (date,hour) bucketing → partitioned JSONL on
  * S3, at-least-once).
  *
  * Spark-first restatement (SURVEY.md §3 EP2): one Structured
  * Streaming query — source lines → event-time partition derivation →
  * partitioned text sink. Like the reference, which reads only
  * `event_ts` and appends the line it received to its bucket
  * (`buckets[(d,h)].append(line)`), the stage never parses or
  * re-serializes an event: each line lands byte-for-byte, unknown
  * fields and malformed lines included, and only blank lines are
  * dropped. The reference's in-memory bucket dict
  * (ingest_clickstream_to_s3.py:41) becomes one hash exchange on
  * (date, hour) followed by a dynamic partitioned write; its Kafka
  * consumer-group offset tracking becomes checkpointing, upgrading
  * at-least-once to exactly-once (ST5).
  *
  * Both sources yield (`value`: the line, arrival time), so the Kafka
  * path and the file path (testable without a broker) share one
  * transform.
  */
object RawIngest {

  /** Event-time partition derivation with an arrival-time fallback for
    * missing, unparseable or malformed timestamps (reference:
    * ingest_clickstream_to_s3.py:36-51, P3/P4). The reference falls
    * back to the wall clock; here the fallback is the time the source
    * recorded for the line — the Kafka record timestamp or the landed
    * file's modification time — so a replayed batch routes every line
    * to the same bucket, and the plan holds no per-batch literal (a
    * `current_timestamp()` fallback is constant-folded into each
    * batch's generated code, which then compiles afresh every batch).
    *
    * @param lines   a DataFrame with a string `value` column, one line each
    * @param arrival a timestamp column of `lines`
    * @return `value`, `date` (yyyy-MM-dd) and `hour` (HH), blank lines dropped
    */
  def withPartitions(lines: DataFrame, arrival: Column): DataFrame = {
    // try_: under ANSI mode a garbled event_ts would otherwise fail the batch
    val ts = coalesce(try_to_timestamp(get_json_object(col("value"), "$.event_ts")), arrival)
    lines
      // a line of JSON whitespace only is no record to the reference or to the JSON reader
      .where(col("value").rlike("[^ \\t\\r\\n]"))
      .select(col("value"),
        date_format(ts, "yyyy-MM-dd").as("date"),
        date_format(ts, "HH").as("hour"))
  }

  /** Kafka-source variant (reference: ingest_clickstream_to_s3.py:17-31).
    * Not exercised in tests (no broker in the container); the file
    * variant below drives the identical transform. */
  def fromKafka(spark: SparkSession, bootstrap: String,
                topic: String = "clickstream.events"): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", 1000000L) // ST8 backpressure
      .load()
    withPartitions(raw.select(col("value").cast("string").as("value"), col("timestamp")),
      col("timestamp"))
  }

  /** File-source variant: a directory of JSONL files as the stream
    * (stand-in for the Kafka topic with identical downstream
    * semantics); a line's arrival time is its file's modification time.
    *
    * `maxFilesPerTrigger` is ST8 backpressure on this source — the
    * file-source analogue of Kafka's maxOffsetsPerTrigger: AvailableNow
    * drains the backlog in bounded micro-batches instead of one giant
    * batch, capping per-batch memory/shuffle regardless of how far
    * behind the job is (RawIngestBackpressureSpec drives it). */
  def fromFiles(spark: SparkSession, inDir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    withPartitions(reader.text(inDir), col("_metadata.file_modification_time"))
  }

  /** Partitioned line sink + checkpoint
    * (reference: ingest_clickstream_to_s3.py:65-81 S5). AvailableNow =
    * the reference's bounded poll window (ST1) — drain what exists,
    * then stop; re-invocation resumes from the checkpoint. Each line is
    * written unchanged (`text` sink, `.txt` part files).
    *
    * The pre-sink repartition on the partition columns is the
    * small-files control: without it every task writes a file into
    * every (date,hour) dir it sees (tasks × partitions files per
    * batch); with it each (date,hour) is written by exactly one task —
    * the reference's one-object-per-bucket layout
    * (ingest_clickstream_to_s3.py:71), and the difference between
    * millions of tiny S3 objects and one per bucket at 100 TB.
    *
    * Adaptive execution is off for this query: under it every batch
    * ran as two jobs (the exchange, then a write coalesced into one
    * task). Without it a batch is one job whose writes run in parallel
    * across the shuffle partitions. The stream clones the session's
    * conf at `start()`, so the setting stays with this query. */
  def start(lines: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    graft.Tables.withConfs(lines.sparkSession, "spark.sql.adaptive.enabled" -> "false") {
      lines
        .repartition(col("date"), col("hour"))
        .writeStream
        .format("text")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .partitionBy("date", "hour")
        .trigger(Trigger.AvailableNow())
        .start()
    }

  /** End-to-end bounded ingest run (EP2 as one call). */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
              checkpointDir: String): Unit = {
    val q = start(fromFiles(spark, inDir), outDir, checkpointDir)
    q.awaitTermination()
  }
}
