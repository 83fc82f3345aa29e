package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.operators.SortedLayout

/** Sorted layout + zone-map skipping: exactness (same rows as the raw
  * table under the same predicate), pushdown (ts bounds reach the
  * parquet scan), and the actual 100 TB property — the scan DECODES
  * far fewer rows than the table holds, because sorted row groups let
  * the reader skip on footer min/max stats.
  */
class SortedLayoutSpec extends SparkSpec {

  private def rangeFilter(df: org.apache.spark.sql.DataFrame) =
    df.where(col("ts") >= lit("2024-01-10").cast("timestamp") &&
      col("ts") < lit("2024-01-13").cast("timestamp"))

  test("sorted-layout range KPIs equal the raw-table computation") {
    val got = SortedLayout.tsRangeKpis(spark, sf).collect().map(_.toSeq)
    val exp = rangeFilter(Tables.load(spark, sf, "events"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("unique_users"),
        graft.functions.F.roundBin(sum(when(
          graft.model.Kpis.isPurchase(col("event_type")),
          coalesce(col("value"), lit(0.0))).otherwise(0.0)), 2).as("revenue_usd"))
      .orderBy(col("dt")).collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === exp.toSeq)
  }

  test("ts bounds are pushed down to the layout scan") {
    val p = SortedLayout.tsRangeKpis(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ts"),
      s"ts range not pushed into the scan:\n$p")
  }

  /** Scans anywhere in an AQE plan: QueryStageExec/AdaptiveSparkPlanExec
    * hold their subplans outside `children`, so a plain collect never
    * reaches the leaves — recurse through both wrappers explicitly. */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    val nested = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
    p match {
      case a: AdaptiveSparkPlanExec => nested ++ allScans(a.executedPlan)
      case _ => nested
    }
  }

  test("zone maps skip: the scan decodes a fraction of the table's rows") {
    val df = rangeFilter(SortedLayout.sortedEvents(spark, sf))
      .agg(count(lit(1)))
    df.collect() // execute so scan metrics are populated
    val scan = allScans(df.queryExecution.executedPlan)
      .headOption.getOrElse(fail("no FileSourceScanExec in plan"))
    val decoded = scan.metrics("numOutputRows").value
    val total = Tables.rowCount(spark, sf, "events")
    // the 3-of-30-day predicate touches ~10% of a ts-sorted table;
    // 35% leaves generous slack for boundary row groups (without
    // sorting, every row group matches and decoded == total)
    assert(decoded > 0, "scan produced nothing — predicate or layout broken")
    assert(decoded < total * 35 / 100,
      s"row-group skipping ineffective: decoded=$decoded of total=$total")
  }

  test("fileManifest: disjoint per-file time ranges covering every row") {
    val rows = SortedLayout.fileManifest(spark, sf).collect()
    assert(rows.nonEmpty)
    // ordered by min_ts: each file's range must end before the next
    // begins (range partitioning ⇒ disjoint bands — the property that
    // makes file-level pruning sound)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(!a.getTimestamp(2).after(b.getTimestamp(1)),
          s"overlapping file ranges: ${a.getTimestamp(2)} vs ${b.getTimestamp(1)}")
      case _ =>
    }
    rows.foreach { r =>
      assert(!r.getTimestamp(1).after(r.getTimestamp(2)), "min_ts > max_ts")
    }
    val total = Tables.rowCount(spark, sf, "events")
    assert(rows.map(_.getAs[Long]("n_rows")).sum === total,
      "manifest row counts must cover the table exactly")
  }

  test("manifestPrunedKpis: equals the filtered layout, reads a strict file subset") {
    val got = SortedLayout.manifestPrunedKpis(spark, sf).collect().map(_.toSeq)
    val exp = SortedLayout.tsRangeKpis(spark, sf).collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === exp.toSeq)
    val all = SortedLayout.manifestWithPaths(spark, sf).count()
    val kept = SortedLayout.manifestWithPaths(spark, sf)
      .where(col("max_ts") >= lit("2024-01-10").cast("timestamp") &&
        col("min_ts") < lit("2024-01-13").cast("timestamp")).count()
    assert(kept < all, s"manifest pruned nothing: $kept of $all files")
  }

  test("control: the same predicate over an UNSORTED layout decodes everything") {
    // same rows, same row-group size, no clustering — zone maps are
    // useless and the reader must decode every group: proves the
    // skipping above comes from the sort, not the predicate
    val zone = java.nio.file.Files.createTempDirectory("graft-unsorted")
    zone.toFile.deleteOnExit()
    val out = zone.resolve("events").toString
    // same MICROS stats as the sorted layout — the control differs
    // ONLY in clustering, so the comparison isolates the sort
    Tables.withConfs(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      Tables.load(spark, sf, "events")
        // hash-scatter destroys ts clustering deterministically
        .repartition(8, col("event_id"))
        .write.mode("overwrite")
        .option("parquet.block.size", SortedLayout.FixtureRowGroupBytes.toString)
        .parquet(out)
    }
    val df = rangeFilter(spark.read.parquet(out)).agg(count(lit(1)))
    df.collect()
    val scan = allScans(df.queryExecution.executedPlan)
      .headOption.getOrElse(fail("no FileSourceScanExec in plan"))
    val decoded = scan.metrics("numOutputRows").value
    val total = Tables.rowCount(spark, sf, "events")
    assert(decoded * 2 > total,
      s"unsorted layout unexpectedly skipped: decoded=$decoded total=$total")
  }
}
