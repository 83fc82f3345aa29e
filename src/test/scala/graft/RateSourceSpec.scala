package graft

import org.apache.spark.sql.functions._
import graft.gen.EventGenerator
import graft.streaming.RawIngest

/** S2 realtime branch (reference: produce_events.py:97-98 — wall-clock
  * paced ~20 events/s): the `rate` source paces generation, each row
  * derives the standard wire event, and the stream flows through the
  * SAME RawIngest partition derivation as the backfill/Kafka paths,
  * as the wire lines KafkaSink would produce.
  * Asserts the pacing contract (N seconds ⇒ ~N×rate events) and that
  * the derived events are wire-schema-complete with event-time
  * partitions consistent with their timestamps.
  */
class RateSourceSpec extends SparkSpec {

  test("eventsRealtime: rate-paced wire events through RawIngest partitioning") {
    val rate = 50
    val stream = RawIngest.withPartitions(
      EventGenerator.eventsRealtime(spark, rowsPerSecond = rate, seed = "rt"), col("timestamp"))
    assert(stream.columns.toSeq === Seq("value", "date", "hour"))
    val q = stream.writeStream.format("memory").queryName("rt_events")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
      // each landed line parsed back into the wire schema, beside its bucket
      val rows = spark.table("rt_events")
        .select(from_json(col("value"), graft.model.EventSchema.schema).as("e"),
          col("date"), col("hour"))
        .select(col("e.*"), col("date"), col("hour"))
        .collect()
      // Pacing contract asserted against the rate source's OWN emitted
      // timestamps, not external sleep timing (a loaded machine can
      // start the query late enough that a wall-clock lower bound
      // flakes): the source emits rows at exactly 1/rate s spacing, so
      // n rows span (n-1)/rate s and n ∈ [span·rate, span·rate+rate+1]
      // even when event_ts truncates to whole seconds.
      assert(rows.nonEmpty, "rate source emitted no rows")
      val tsSec = rows.map { r =>
        java.time.Instant.parse(r.getAs[String]("event_ts")).toEpochMilli / 1000.0
      }
      val span = tsSec.max - tsSec.min
      assert(rows.length >= span * rate,
        s"expected >= ${span * rate} events over ${span}s, got ${rows.length}")
      assert(rows.length <= span * rate + rate + 1,
        s"expected <= ${span * rate + rate + 1} events over ${span}s, got ${rows.length}")
      // wire schema + event-time partition consistency
      rows.take(100).foreach { r =>
        assert(r.getAs[String]("user_id").startsWith("u_"))
        assert(r.getAs[String]("event_ts").endsWith("Z"))
        val ts = r.getAs[String]("event_ts")
        assert(r.getAs[String]("date") === ts.substring(0, 10))
        assert(r.getAs[String]("hour") === ts.substring(11, 13))
      }
      // distribution sanity: page_view must dominate at 0.75 weight
      val types = rows.map(_.getAs[String]("event_type"))
      assert(types.count(_ == "page_view") > types.length / 2)
    } finally q.stop()
  }
}
