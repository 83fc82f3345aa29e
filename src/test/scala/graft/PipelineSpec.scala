package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.batch.DailyKpis
import graft.gen.EventGenerator
import graft.quality.Freshness
import graft.streaming.{RawIngest, StreamingKpis}

/** End-to-end reference-parity pipeline: generator → JSONL (with
  * malformed + blank lines) → streaming ingest (event-time
  * partitioned) → daily KPIs — the EP1→EP2→EP3 dataflow of SURVEY.md
  * §3, checked against driver-side recomputation.
  */
class PipelineSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  test("EventGenerator: deterministic, reference distributions, schema") {
    val a = EventGenerator.events(spark, 2000, seed = "s1").collect()
    val b = EventGenerator.events(spark, 2000, seed = "s1").collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)

    val df = EventGenerator.events(spark, 2000, seed = "s1")
    val byType = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights 0.75/0.15/0.07/0.03 ± a loose tolerance
    assert(math.abs(byType("page_view") / 2000.0 - 0.75) < 0.05)
    assert(math.abs(byType("add_to_cart") / 2000.0 - 0.15) < 0.05)
    // price present iff purchase (produce_events.py:33)
    assert(df.where(col("price").isNotNull && col("event_type") =!= "purchase").count() === 0)
    assert(df.where(col("price").isNull && col("event_type") === "purchase").count() === 0)
    val prices = df.where(col("price").isNotNull).select("price").collect().map(_.getDouble(0))
    assert(prices.forall(p => p >= 5.0 && p <= 120.0))
    // user domain u_1..u_2000
    val uids = df.select("user_id").distinct().collect().map(_.getString(0))
    assert(uids.forall(_.startsWith("u_")))
    // timestamps span the 7 backfill days from the start date
    val days = df.select(substring(col("event_ts"), 1, 10)).distinct().count()
    assert(days === 7)
  }

  test("ingest → daily KPIs end-to-end with malformed/blank/missing-ts lines") {
    val inDir = tmp("graft-in")
    val outDir = tmp("graft-raw")
    val ckDir = tmp("graft-ck")
    val n = 3000L

    // EP1: produce JSONL with reference-shaped garbage interleaved
    val events = EventGenerator.events(spark, n, seed = "e2e")
    events.select(to_json(struct(events.columns.toIndexedSeq.map(col): _*)).as("value"))
      .coalesce(2).write.mode("overwrite").text(inDir.toString)
    Files.writeString(inDir.resolve("garbage.txt"),
      "not json at all\n\n{\"event_ts\": \"broken\n{}\n")

    // EP2: streaming ingest, event-time partitioned
    RawIngest.runOnce(spark, inDir.toString, outDir.toString, ckDir.toString)

    // partition layout is Hive-style date=/hour= derived from event_ts
    val parts = outDir.toFile.listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_spark_metadata")
    assert(parts.nonEmpty && parts.forall(_.startsWith("date=")))

    // EP3: daily KPIs over the ingested raw zone
    val kpis = DailyKpis.compute(spark, outDir.toString).collect()

    // expected from the generator directly (garbage lines: the blank
    // one is dropped at ingest; the other three have no parseable ts,
    // so ingest buckets them by garbage.txt's arrival time (P4). The
    // two malformed ones are dropped as corrupt by the KPI job; `{}`
    // counts as one event with no user/session/type toward its date=
    // partition's day, the day garbage.txt was written, which is not
    // one of the generator's days.
    val exp = events.collect().map(r => (
      r.getAs[String]("event_ts").substring(0, 10),
      r.getAs[String]("user_id"),
      r.getAs[String]("session_id"),
      r.getAs[String]("event_type"),
      Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)))
    val expByDay = exp.groupBy(_._1)
    val kpiDays = kpis.map(_.getAs[String]("dt")).toSet
    assert(expByDay.keySet.subsetOf(kpiDays))
    expByDay.foreach { case (day, rows) =>
      val k = kpis.find(_.getAs[String]("dt") == day).get
      assert(k.getAs[Long]("total_events") === rows.size)
      assert(k.getAs[Long]("unique_users") === rows.map(_._2).distinct.size)
      assert(k.getAs[Long]("unique_sessions") === rows.map(_._3).distinct.size)
      assert(k.getAs[Long]("pageviews") === rows.count(_._4 == "page_view"))
      assert(k.getAs[Long]("purchases") ===
        rows.count(r => Set("purchase", "checkout")(r._4)))
      val expRev = rows.filter(r => Set("purchase", "checkout")(r._4))
        .flatMap(_._5).sum
      assert(math.abs(k.getAs[Double]("revenue_usd") - expRev) < 0.01,
        s"$day revenue")
    }

    // exactly-once on re-run: checkpoint makes re-invocation a no-op
    val before = DailyKpis.readRaw(spark, outDir.toString).count()
    RawIngest.runOnce(spark, inDir.toString, outDir.toString, ckDir.toString)
    val after = DailyKpis.readRaw(spark, outDir.toString).count()
    assert(before === after, "re-run duplicated rows — checkpoint broken")

    // S9 freshness: the just-written partition is fresh; ancient cutoff is not
    val anyDay = parts.head.stripPrefix("date=")
    assert(Freshness.isFresh(spark, outDir.toString, anyDay, lookbackMin = 20))
    assert(!Freshness.isFresh(spark, outDir.toString, anyDay, lookbackMin = 0,
      nowMillis = System.currentTimeMillis() + 60L * 60000L))
    assert(!Freshness.isFresh(spark, outDir.toString, "1970-01-01"))
  }

  test("single-day KPI run prunes to that day and round-trips the parquet sink") {
    val inDir = tmp("graft-day-in")
    val kpiDir = tmp("graft-kpis")
    val events = EventGenerator.events(spark, 1500, seed = "day")
    events.select(to_json(struct(events.columns.toIndexedSeq.map(col): _*)).as("value"))
      .coalesce(1).write.mode("overwrite").text(inDir.toString)

    val all = DailyKpis.compute(spark, inDir.toString).collect()
    val day = all.head.getAs[String]("dt")
    val one = DailyKpis.compute(spark, inDir.toString, Some(day)).collect()
    assert(one.length === 1)
    assert(one.head.toString === all.head.toString)

    // S8 sink: partitioned parquet, read back intact
    DailyKpis.write(DailyKpis.compute(spark, inDir.toString), kpiDir.toString)
    val back = spark.read.parquet(kpiDir.toString)
    assert(back.count() === all.length)
    assert(back.columns.toSet === Set("total_events", "unique_users",
      "unique_sessions", "pageviews", "purchases", "revenue_usd", "dt"))
    val backDay = back.where(col("dt") === day).collect()
    assert(backDay.head.getAs[Long]("total_events") ===
      one.head.getAs[Long]("total_events"))
  }

  test("run-date resolution: precedence and multi-format parse (P10/P11)") {
    import graft.jobs.RunDate
    import java.time.{Instant, LocalDate, ZoneId}
    val utc = ZoneId.of("UTC")
    assert(RunDate.parse(" \"2024-03-05\" ") === Some(LocalDate.of(2024, 3, 5)))
    assert(RunDate.parse("2024-03-05T10:30:00Z") === Some(LocalDate.of(2024, 3, 5)))
    assert(RunDate.parse("2024-03-05T10:30:00") === Some(LocalDate.of(2024, 3, 5)))
    assert(RunDate.parse("garbage") === None)
    assert(RunDate.resolve(Some("2024-01-02"), Some("2024-01-03"),
      Some("2024-01-04")) === LocalDate.of(2024, 1, 2))
    assert(RunDate.resolve(None, Some("2024-01-03"),
      Some("2024-01-04")) === LocalDate.of(2024, 1, 3))
    assert(RunDate.resolve(Some("bad"), None,
      Some("2024-01-04")) === LocalDate.of(2024, 1, 4))
    assert(RunDate.resolve(None, None, None, utc,
      () => Instant.parse("2024-06-07T23:59:00Z")) === LocalDate.of(2024, 6, 7))
  }

  test("Kafka wire format: one JSON message per event (S3 serialization)") {
    import graft.gen.KafkaSink
    val events = EventGenerator.events(spark, 100, seed = "kafka")
    val msgs = KafkaSink.toMessages(events).collect().map(_.getString(0))
    assert(msgs.length === 100)
    msgs.foreach { m =>
      assert(m.startsWith("{") && m.contains("\"event_ts\":") &&
        m.contains("\"user_id\":\"u_"))
    }
  }

  test("streaming windowed KPIs (batch-mode check of the same plan)") {
    val events = EventGenerator.events(spark, 2000, seed = "win", days = 1)
    val win = StreamingKpis.windowed(events, "1 hour", "30 minutes").collect()
    assert(win.map(_.getAs[Long]("total_events")).sum === 2000L)
    assert(win.length === 24)
    val sess = StreamingKpis.sessions(events, "30 minutes").collect()
    assert(sess.map(_.getAs[Long]("n_events")).sum === 2000L)
  }

  private def lines(ls: String*) = {
    import spark.implicits._
    spark.read.schema(graft.model.EventSchema.schema).json(ls.toDS())
  }

  private def line(ts: String, user: String, eventType: String, price: String): String =
    s"""{"event_ts":"$ts","user_id":"$user","session_id":"s_$user",""" +
      s""""event_type":"$eventType","price":$price}"""

  test("streaming windowed revenue rounds as the batch KPI job does") {
    // 0.125 is exact in binary: half-up gives 0.13, HALF_EVEN (bround) 0.12
    val ev = lines(line("2024-03-01T10:05:00Z", "u_1", "purchase", "0.125"))
    val win = StreamingKpis.windowed(ev).collect()
    val day = DailyKpis.aggregateEvents(ev.withColumn("ts", graft.model.Kpis.eventTime)).collect()
    assert(day.map(_.getAs[Double]("revenue_usd")).toSeq === Seq(0.13))
    assert(win.map(_.getAs[Double]("revenue_usd")).toSeq === Seq(0.13))
  }

  private def withGarbledTs = lines(
    line("2024-03-01T10:00:00Z", "u_1", "page_view", "null"),
    line("2024-03-01T10:05:00Z", "u_1", "purchase", "5.0"),
    line("yesterday", "u_2", "page_view", "null"))

  test("windowed: an unparseable event_ts does not fail the query and counts in no window") {
    val win = StreamingKpis.windowed(withGarbledTs).collect()
    assert(win.map(r => (Option(r.getAs[java.sql.Timestamp]("window_start")).map(_.toInstant.toString),
      r.getAs[Long]("total_events"))).toSeq === Seq((Some("2024-03-01T10:00:00Z"), 2L)))
  }

  test("sessions: an unparseable event_ts does not fail the query and counts in no session") {
    val sess = StreamingKpis.sessions(withGarbledTs).collect()
    assert(sess.map(r => (r.getAs[String]("user_id"), r.getAs[Long]("n_events"))).toSeq ===
      Seq(("u_1", 2L)))
  }
}
