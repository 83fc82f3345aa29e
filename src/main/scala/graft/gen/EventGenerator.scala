package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, distributed reimplementation of the reference's
  * synthetic clickstream producer
  * (reference: kafka/producer/produce_events.py:23-74 — weighted event
  * types 0.75/0.15/0.07/0.03, u_1..u_2000 users, sku_1..sku_300
  * products, 5 pages, 4 referrers, price ~ U(5,120) 2dp only on
  * purchase, evenly-stepped backfill timestamps).
  *
  * Differences by design (SURVEY.md §2.1 S1, §7 risk register):
  *  - seeded xxhash64-derived uniforms instead of `random.*` so every
  *    row is reproducible from (seed, id) alone — re-runs, retries and
  *    stragglers produce identical data on any cluster topology;
  *  - session_id is a deterministic surrogate hash (uuid4 in the
  *    reference — fresh per event, so distinct-count semantics are
  *    preserved).
  *
  * `spark.range` is an embarrassingly-parallel source: no shuffle
  * anywhere, scales linearly with executor count.
  */
object EventGenerator {
  private def u01(seed: String, id: Column): Column =
    (pmod(xxhash64(concat(lit(seed), id.cast("string"))), lit(1000000L)))
      .cast("double") / 1000000.0

  private def pick(seed: String, id: Column, values: Seq[String]): Column = {
    val idx = pmod(xxhash64(concat(lit(seed), id.cast("string"))),
      lit(values.size.toLong)).cast("int")
    // small dense lookup via chained when
    values.zipWithIndex.foldLeft(lit(values.head)) { case (acc, (v, i)) =>
      when(idx === i, lit(v)).otherwise(acc)
    }
  }

  /** Shared event-column derivation: every wire field is a seeded
    * deterministic function of the `id` column; the event timestamp
    * comes from the caller-provided `ts` column (evenly-stepped for
    * backfill, the rate source's wall clock for realtime). */
  private def withEventColumns(df: DataFrame, seed: String): DataFrame = {
    val id = col("id")
    val eventType = {
      val u = u01(s"$seed:et", id)
      when(u < 0.75, "page_view")
        .when(u < 0.90, "add_to_cart")
        .when(u < 0.97, "checkout")
        .otherwise("purchase")
    }
    df
      .withColumn("event_ts",
        concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
      .withColumn("user_id",
        concat(lit("u_"), (pmod(xxhash64(concat(lit(s"$seed:uid"), id.cast("string"))), lit(2000L)) + 1).cast("string")))
      .withColumn("session_id",
        sha2(concat(lit(s"$seed:sess"), id.cast("string")), 256))
      .withColumn("event_type", eventType)
      .withColumn("page", pick(s"$seed:page", id,
        Seq("/", "/search", "/product", "/cart", "/checkout")))
      .withColumn("product_id",
        concat(lit("sku_"), (pmod(xxhash64(concat(lit(s"$seed:sku"), id.cast("string"))), lit(300L)) + 1).cast("string")))
      .withColumn("price",
        when(col("event_type") === "purchase",
          bround(lit(5.0) + u01(s"$seed:price", id) * 115.0, 2)))
      .withColumn("currency", lit("USD"))
      .withColumn("referrer", pick(s"$seed:ref", id,
        Seq("google", "email", "direct", "ads")))
      .withColumn("user_agent", lit("Mozilla/5.0"))
      .drop("id", "ts")
  }

  /** Backfill generator: `n` events evenly stepped over `[startDate,
    * startDate + days)` (reference: produce_events.py:48-70). */
  def events(spark: SparkSession, n: Long, seed: String = "graft",
             startDate: String = "2025-09-01", days: Int = 7): DataFrame = {
    val id = col("id")
    val stepMicros = days.toDouble * 86400 * 1e6 / n
    withEventColumns(
      spark.range(n)
        .withColumn("ts",
          timestamp_micros((unix_timestamp(lit(startDate).cast("timestamp")) * 1000000L
            + (id.cast("double") * stepMicros).cast("long")))),
      seed)
  }

  /** REALTIME generator branch (SURVEY.md §2.1 S2; reference:
    * produce_events.py:97-98 — ~20 events/s wall-clock pacing): Spark's
    * `rate` source is the pacing engine — it emits `rowsPerSecond`
    * rows/s of (timestamp, value), and each row derives the SAME
    * seeded wire event as the backfill branch, keyed on the rate
    * source's monotone `value` with the source's wall-clock timestamp
    * as event time. Returns an unbounded stream shaped like a Kafka
    * topic read: each event serialized to its wire line by
    * [[KafkaSink.toMessages]] in `value`, and its emission time in
    * `timestamp` — feed it to `RawIngest.withPartitions(_, col("timestamp"))`
    * or a Kafka sink. The rate source scales by `numPartitions` and
    * needs no driver-side sleep loop (the reference paces with
    * time.sleep on one process).
    */
  def eventsRealtime(spark: SparkSession, rowsPerSecond: Int = 20,
                     seed: String = "graft"): DataFrame = {
    val events = withEventColumns(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toLong)
        .load()
        .select(col("value").as("id"), col("timestamp").as("ts"), col("timestamp")),
      seed)
    KafkaSink.toMessages(events, keep = Seq("timestamp"))
  }
}
