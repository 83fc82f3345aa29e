package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.functions.ZOrderKey
import graft.operators.ZOrderLayout

/** Morton (Z-order) clustered layout: key correctness (interleave bit
  * identities + quadrant ordering), exactness of the gate query vs the
  * raw table, two-column pushdown, and the 100 TB property — a 2-D
  * boxed predicate decodes a fraction of the table because row groups
  * carry tight bounding boxes in BOTH dimensions (with an unclustered
  * control proving the skipping comes from the layout).
  */
class ZOrderSpec extends SparkSpec {

  test("spread/interleave bit identities") {
    assert(ZOrderKey.spread(0L) === 0L)
    assert(ZOrderKey.spread(1L) === 1L)
    assert(ZOrderKey.spread(0x3L) === 0x5L)        // 0b11 -> 0b101
    assert(ZOrderKey.spread(0x7L) === 0x15L)       // 0b111 -> 0b10101
    assert(ZOrderKey.spread(ZOrderKey.DimMax) === ((1L << 42) - 1) / 3) // 21 ones, two apart: (2^42-1)/3
    assert(ZOrderKey.interleave(0L, 0L) === 0L)
    assert(ZOrderKey.interleave(1L, 0L) === 2L)    // a gets the odd bits
    assert(ZOrderKey.interleave(0L, 1L) === 1L)
    assert(ZOrderKey.interleave(ZOrderKey.DimMax, ZOrderKey.DimMax) === (1L << 42) - 1)
    // injective on the 21-bit domain: distinct pairs -> distinct keys
    val keys = for (a <- 0L to 7L; b <- 0L to 7L) yield ZOrderKey.interleave(a, b)
    assert(keys.distinct.size === 64)
  }

  test("quadrant ordering: the z-curve visits quadrants in (00,01,10,11) order") {
    // split the 2-bit plane into 4 quadrants by the top bit of each
    // coordinate; every key of an earlier quadrant sorts before every
    // key of a later one — the property that gives sorted runs their
    // 2-D bounding boxes
    def quadrant(a: Long, b: Long): Int = (((a >> 20) & 1) << 1 | ((b >> 20) & 1)).toInt
    val half = 1L << 20
    val pts = for (a <- Seq(0L, half - 1, half, ZOrderKey.DimMax);
                   b <- Seq(0L, half - 1, half, ZOrderKey.DimMax)) yield (a, b)
    for ((a1, b1) <- pts; (a2, b2) <- pts
         if quadrant(a1, b1) < quadrant(a2, b2)) {
      assert(ZOrderKey.interleave(a1, b1) < ZOrderKey.interleave(a2, b2),
        s"($a1,$b1) in q${quadrant(a1, b1)} must sort before ($a2,$b2) in q${quadrant(a2, b2)}")
    }
  }

  private def boxFilter(df: org.apache.spark.sql.DataFrame) =
    df.where(col("user_id") < 3 &&
      col("ts") >= lit("2024-01-10").cast("timestamp") &&
      col("ts") < lit("2024-01-13").cast("timestamp"))

  test("z-order gate query equals the raw-table computation") {
    val got = ZOrderLayout.userTimeBoxKpis(spark, sf).collect().map(_.toSeq)
    val exp = boxFilter(Tables.load(spark, sf, "events"))
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("total_events"),
        graft.functions.F.roundBin(sum(when(
          graft.model.Kpis.isPurchase(col("event_type")),
          coalesce(col("value"), lit(0.0))).otherwise(0.0)), 2).as("revenue_usd"))
      .orderBy(col("user_id"), col("dt")).collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === exp.toSeq)
  }

  test("both dimensions' bounds are pushed down to the layout scan") {
    val p = ZOrderLayout.userTimeBoxKpis(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThan(user_id,3)") &&
      p.contains("GreaterThanOrEqual(ts"),
      s"user_id/ts bounds not pushed into the scan:\n$p")
  }

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

  private def decodedRows(df: org.apache.spark.sql.DataFrame): Long = {
    val agg = df.agg(count(lit(1)))
    agg.collect()
    allScans(agg.queryExecution.executedPlan)
      .headOption.getOrElse(fail("no FileSourceScanExec in plan"))
      .metrics("numOutputRows").value
  }

  test("2-D box skips: the scan decodes a fraction of the table's rows") {
    val decoded = decodedRows(boxFilter(ZOrderLayout.zOrderedEvents(spark, sf)))
    val total = Tables.rowCount(spark, sf, "events")
    // the box is ~20% of users × 10% of time at sf0.001 (~2% of rows);
    // z-clustered row groups bound both dims, so most groups miss the
    // box on one axis or the other. 50% leaves slack for the z-curve's
    // boundary-straddling runs (an unclustered layout decodes ~100%).
    assert(decoded > 0, "scan produced nothing — predicate or layout broken")
    assert(decoded < total / 2,
      s"z-order skipping ineffective: decoded=$decoded of total=$total")
  }

  test("control: the same box over an unclustered layout decodes everything") {
    val zone = java.nio.file.Files.createTempDirectory("graft-unclustered")
    zone.toFile.deleteOnExit()
    val out = zone.resolve("events").toString
    Tables.withConfs(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      Tables.load(spark, sf, "events")
        .repartition(8, col("event_id")) // hash scatter: no clustering
        .write.mode("overwrite")
        .option("parquet.block.size", ZOrderLayout.FixtureRowGroupBytes.toString)
        .parquet(out)
    }
    val decoded = decodedRows(boxFilter(spark.read.parquet(out)))
    val total = Tables.rowCount(spark, sf, "events")
    assert(decoded * 2 > total,
      s"unclustered layout unexpectedly skipped: decoded=$decoded total=$total")
  }
}
