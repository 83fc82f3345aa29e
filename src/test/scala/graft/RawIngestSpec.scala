package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.batch.DailyKpis
import graft.model.EventSchema
import graft.streaming.RawIngest

/** EP2 ingest as the reference does it: each line lands as received in
  * its (date, hour) bucket, and each micro-batch is one Spark job that
  * writes one file per bucket and compiles no code once the plan has
  * run.
  */
class RawIngestSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** Data files of a raw zone: every file under a `date=` directory
    * except checksums. */
  private def dataFiles(zone: Path): Seq[Path] = {
    val walk = Files.walk(zone)
    try walk.iterator.asScala.filter { p =>
      Files.isRegularFile(p) && zone.relativize(p).toString.startsWith("date=") &&
        !p.getFileName.toString.startsWith(".")
    }.toSeq
    finally walk.close()
  }

  /** (bucket, line) for every line of the zone, bucket as `date=…/hour=…`. */
  private def zoneLines(zone: Path): Seq[(String, String)] =
    dataFiles(zone).flatMap { f =>
      val bucket = zone.relativize(f.getParent).toString
      Files.readAllLines(f, UTF_8).asScala.map(bucket -> _)
    }

  /** Buckets of the files each committed batch wrote, from the sink log. */
  private def bucketsByBatch(zone: Path): Map[Long, Seq[String]] = {
    val PathField = "\"path\":\"[^\"]*/(date=[^/\"]+/hour=[^/\"]+)/[^/\"]+\"".r
    Files.list(zone.resolve("_spark_metadata")).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map { log =>
        log.getFileName.toString.toLong ->
          Files.readAllLines(log, UTF_8).asScala.toSeq.flatMap(l => PathField.findFirstMatchIn(l).map(_.group(1)))
      }.toMap
  }

  test("lines land byte-for-byte; malformed or garbled-ts ones in their file's arrival-time bucket; blank ones nowhere") {
    val (in, out, ck) = (tmp("graft-fid-in"), tmp("graft-fid-raw"), tmp("graft-fid-ck"))
    val good = Seq(
      """{"event_ts":"2025-09-01T10:15:00Z","user_id":"u_1","session_id":"s1","event_type":"page_view","page":"/","product_id":"sku_1","currency":"USD","referrer":"google","user_agent":"Mozilla/5.0"}""",
      """{"event_ts":"2025-09-01T10:45:30Z","user_id":"u_2","session_id":"s2","event_type":"purchase","page":"/checkout","product_id":"sku_7","price":19.99,"currency":"USD","referrer":"ads","user_agent":"Mozilla/5.0"}""",
      // a field the schema does not know, in spacing no serializer of ours produces
      """{"event_ts": "2025-09-01T23:59:59Z", "user_id": "u_3", "session_id": "s3", "event_type": "page_view", "ab": {"exp": "x1", "arm": 2}}""")
    val malformed = Seq("not json at all", """{"event_ts": "2025-09-01T11:00:00Z", broken""")
    val garbledTs = """{"event_ts":"yesterday","user_id":"u_4","session_id":"s4","event_type":"page_view"}"""
    val file = in.resolve("events.jsonl")
    Files.writeString(file, Seq(good(0), "", malformed(0), good(1), "   ", garbledTs, malformed(1), "\t", good(2))
      .mkString("", "\n", "\n"))
    Files.setLastModifiedTime(file, FileTime.from(Instant.parse("2030-01-02T03:04:05Z")))

    RawIngest.runOnce(spark, in.toString, out.toString, ck.toString)

    val expected = Seq(
      "date=2025-09-01/hour=10" -> good(0), "date=2025-09-01/hour=10" -> good(1),
      "date=2025-09-01/hour=23" -> good(2),
      "date=2030-01-02/hour=03" -> malformed(0), "date=2030-01-02/hour=03" -> malformed(1),
      "date=2030-01-02/hour=03" -> garbledTs)
    assert(zoneLines(out).sorted === expected.sorted)
    // nothing else is written: each file is exactly its lines, newline-terminated
    assert(dataFiles(out).map(Files.size).sum === expected.map(_._2.getBytes(UTF_8).length + 1L).sum)
    assert(dataFiles(out).forall(_.getFileName.toString.endsWith(".txt")))

    // the KPI job reads the malformed lines as corrupt and drops them
    // (reference S7); the garbled-ts event counts toward its bucket's day
    val kpis = DailyKpis.compute(spark, out.toString).collect()
      .map(r => r.getAs[String]("dt") -> r).toMap
    assert(kpis.keySet === Set("2025-09-01", "2030-01-02"))
    assert(kpis("2025-09-01").getAs[Long]("total_events") === 3L)
    assert(kpis("2025-09-01").getAs[Long]("unique_users") === 3L)
    assert(kpis("2025-09-01").getAs[Long]("purchases") === 1L)
    assert(kpis("2030-01-02").getAs[Long]("total_events") === 1L)
    assert(DailyKpis.readRaw(spark, out.toString)
      .select(col(EventSchema.CorruptCol), col("event_ts")).collect()
      .flatMap(r => Option(r.getString(0))).sorted.toSeq === malformed.sorted)

    // exactly-once: a re-run from the checkpoint writes nothing
    val before = dataFiles(out).map(p => p -> Files.size(p)).toMap
    RawIngest.runOnce(spark, in.toString, out.toString, ck.toString)
    assert(dataFiles(out).map(p => p -> Files.size(p)).toMap === before)
  }

  test("Kafka-shaped input: each micro-batch is one job writing one file per (date, hour), and compiles nothing after the first") {
    val hours = 48
    /** A landing dir of `n` files; like a Kafka partition, every file
      * interleaves all hours of two days. */
    def landing(n: Int): Path = {
      val in = tmp("graft-lay-in")
      (0 until n).foreach { i =>
        Files.writeString(in.resolve(f"in-$i%02d.jsonl"), (0 until 2 * hours).map { j =>
          val h = j % hours
          f"""{"event_ts":"2025-09-0${1 + h / 24}T${h % 24}%02d:$i%02d:${j / hours}%02dZ","user_id":"u_$i","session_id":"s$i-$j","event_type":"page_view"}"""
        }.mkString("", "\n", "\n"))
      }
      in
    }

    val jobs = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))))
    }
    /** One AvailableNow drain of `in`, 2 files per batch, into a fresh
      * zone: (zone, jobs started during it by batch id, classes compiled). */
    def drain(in: Path): (Path, Map[Option[String], Int], Long) = {
      val (out, ck) = (tmp("graft-lay-raw"), tmp("graft-lay-ck"))
      ListenerBusAccess.drain(spark.sparkContext)
      jobs.clear()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      RawIngest.start(RawIngest.fromFiles(spark, in.toString, Some(2)), out.toString, ck.toString)
        .awaitTermination()
      ListenerBusAccess.drain(spark.sparkContext)
      (out, jobs.asScala.toSeq.groupBy(identity).map { case (b, js) => b -> js.size },
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
    }

    spark.sparkContext.addSparkListener(listener)
    val (oneBatch, threeBatches) = try {
      val in = landing(2)
      drain(in) // compiles what the driver compiles once per plan
      (drain(in), drain(landing(6)))
    } finally spark.sparkContext.removeSparkListener(listener)

    val (out, jobsByBatch, compiled) = threeBatches
    assert(jobsByBatch === Map(Some("0") -> 1, Some("1") -> 1, Some("2") -> 1))
    // each query run compiles its code once (a stream runs in a session
    // of its own, whose tasks load classes anew); its later batches reuse it
    assert(oneBatch._2 === Map(Some("0") -> 1))
    assert(compiled === oneBatch._3, "a later micro-batch compiled new code")

    val byBatch = bucketsByBatch(out)
    assert(byBatch.keySet === Set(0L, 1L, 2L))
    byBatch.foreach { case (b, buckets) =>
      assert(buckets.size === hours && buckets.distinct.size === hours,
        s"batch $b wrote ${buckets.size} files into ${buckets.distinct.size} buckets")
    }
    assert(zoneLines(out).size === 6 * 2 * hours)
  }
}
