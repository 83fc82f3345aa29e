package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.jobs.{DailyKpisMain, JobArgs}
import graft.operators.PipelineQueries

/** spark-submit job surface: arg parsing, P11 date precedence through
  * the CLI, and the DailyKpis job end-to-end (partitioned raw zone →
  * dt=-partitioned KPI parquet).
  */
class JobsSpec extends SparkSpec {

  test("JobArgs.parse splits positionals and --flags") {
    val (pos, flags) = JobArgs.parse(
      Array("/raw", "--date", "2024-01-03", "/out", "--all-days", "true"))
    assert(pos === Vector("/raw", "/out"))
    assert(flags === Map("date" -> "2024-01-03", "all-days" -> "true"))
  }

  test("runDate precedence: explicit --date wins; absent flags fall through") {
    assert(JobArgs.runDate(Map("date" -> "2024-01-03")) === "2024-01-03")
    // quote/whitespace trim (P10) survives the CLI path
    assert(JobArgs.runDate(Map("date" -> " '2024-01-04' ")) === "2024-01-04")
    // no flag, no env in the test harness: resolves to a valid date
    // (today) rather than throwing
    assert(JobArgs.runDate(Map.empty).matches("\\d{4}-\\d{2}-\\d{2}"))
  }

  test("DailyKpisMain.run --date: single-day KPI parquet under dt=<day>") {
    val zone = PipelineQueries.writePartitionedZone(spark, sf)
    val out = Files.createTempDirectory("graft-kpis-out")
    out.toFile.deleteOnExit()
    val day = DailyKpisMain.run(spark, zone, out.toString,
      Map("date" -> PipelineQueries.PruneDay))
    assert(day === Some(PipelineQueries.PruneDay))
    val dtDir = out.resolve(s"dt=${PipelineQueries.PruneDay}")
    assert(Files.exists(dtDir), s"missing partition dir $dtDir")
    val kpis = spark.read.parquet(out.toString)
    val row = kpis.collect()
    assert(row.length === 1)
    assert(row.head.getAs[Long]("total_events") > 0L)
  }

  test("DailyKpisMain.run --date replaces only its own dt= partition") {
    val zone = PipelineQueries.writePartitionedZone(spark, sf)
    val out = Files.createTempDirectory("graft-kpis-days")
    out.toFile.deleteOnExit()
    val (day1, day2) = ("2024-01-02", PipelineQueries.PruneDay)
    def files(day: String): Set[String] =
      Files.list(out.resolve(s"dt=$day")).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    DailyKpisMain.run(spark, zone, out.toString, Map("date" -> day1))
    DailyKpisMain.run(spark, zone, out.toString, Map("date" -> day2))
    val (day1First, day2Files) = (files(day1), files(day2))
    DailyKpisMain.run(spark, zone, out.toString, Map("date" -> day1))
    // day 2 untouched; day 1 rewritten (each job names its files anew)
    assert(files(day2) === day2Files)
    assert(files(day1).nonEmpty && (files(day1) intersect day1First).isEmpty)
    val kpis = spark.read.parquet(out.toString)
    assert(kpis.select("dt").collect().map(_.get(0).toString).sorted === Array(day1, day2))
  }

  test("DailyKpisMain.run --all-days: one KPI row per day in the zone") {
    val zone = PipelineQueries.writePartitionedZone(spark, sf)
    val out = Files.createTempDirectory("graft-kpis-all")
    out.toFile.deleteOnExit()
    val day = DailyKpisMain.run(spark, zone, out.toString, Map("all-days" -> "true"))
    assert(day === None)
    val kpis = spark.read.parquet(out.toString)
    // zone holds days < StreamCutoff = 2024-01-06 → 5 event-days
    assert(kpis.select("dt").distinct().count() === 5L)
  }

  test("DailyKpisMain.run --date keys rows whose event_ts does not parse by their date= partition") {
    val zone = Files.createTempDirectory("graft-kpis-badts")
    zone.toFile.deleteOnExit()
    val day = "2025-09-01"
    val hourDir = Files.createDirectories(zone.resolve(s"date=$day/hour=00"))
    Files.writeString(hourDir.resolve("part-0.txt"), Seq(
      """{"event_ts":"2025-09-01T00:10:00Z","user_id":"u_1","session_id":"s1","event_type":"page_view"}""",
      "{}",
      """{"event_ts":"broken","user_id":"u_2","session_id":"s2","event_type":"purchase","price":5.5}""")
      .mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("graft-kpis-badts-out")
    out.toFile.deleteOnExit()
    DailyKpisMain.run(spark, zone.toString, out.toString, Map("date" -> day))
    // the reference keys the run's rows by the day it read (P9): one row, no NULL dt
    assert(Files.list(out).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("dt=")).toSeq === Seq(s"dt=$day"))
    val row = spark.read.parquet(out.toString).collect()
    assert(row.length === 1)
    assert(row.head.getAs[Long]("total_events") === 3L)
    assert(row.head.getAs[Long]("unique_users") === 2L)
    assert(row.head.getAs[Long]("purchases") === 1L)
    assert(row.head.getAs[Double]("revenue_usd") === 5.5)
  }
}
