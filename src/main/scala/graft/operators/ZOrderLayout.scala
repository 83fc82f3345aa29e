package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ZOrderKey
import graft.model.Kpis

/** Z-order (Morton) clustered layout — the 2-D generalization of
  * [[SortedLayout]] (SURVEY.md §2 S10). A ts-sorted layout prunes
  * time-range scans but does nothing for "this user's events last
  * week": the user predicate touches EVERY row group. Writing the
  * table once sorted by the Morton interleave of (scaled ts, scaled
  * user_id) gives every row group a small bounding BOX in the
  * (time, user) plane, so footer min/max stats on BOTH columns prune
  * on either predicate alone or their conjunction — the standard
  * multi-dimensional clustering trade: each dimension's individual
  * pruning power is √(row-groups) instead of row-groups, in exchange
  * for the second dimension pruning at all.
  *
  * Mechanics are exactly the [[SortedLayout]] recipe with a different
  * sort key: one min/max agg (parquet-stats cheap) to scale each
  * dimension into 21-bit Morton coordinates ([[ZOrderKey]]), one
  * range shuffle on the key, sort-within-partitions, write once.
  * At 100 TB the layout job is a single pass and every
  * (time × user)-boxed query reads predicate-proportional bytes; the
  * key column itself is dropped — clustering lives in the row order,
  * not the schema.
  */
object ZOrderLayout {
  val FixtureRowGroupBytes: Int = 16 * 1024

  /** Scale a numeric column into [0, 2^21) given its domain bounds —
    * Long arithmetic throughout (no double rounding drift); constant
    * domains collapse to coordinate 0. */
  def scaled(c: Column, min: Long, max: Long): Column =
    if (max <= min) lit(0L)
    else ((c.cast("long") - lit(min)) * lit(ZOrderKey.DimMax) / lit(max - min)).cast("long")

  /** Write-once Morton-clustered events layout; returns its path. */
  private[graft] def ensureZOrdered(spark: SparkSession, dir: String): String =
    graft.Artifacts.memo("zorder-layout", spark, dir, Seq("events")) {
      val out = graft.Artifacts.tempDir("graft-zorder").resolve("events").toString
      val ev = graft.Tables.load(spark, dir, "events")
      // one stats pass for the dimension domains (row-group min/max
      // make this a footer read at production scale)
      val b = ev.agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        min(col("user_id")), max(col("user_id"))).head()
      val zkey = graft.functions.F.interleaveBits(
        scaled(unix_micros(col("ts")), b.getLong(0), b.getLong(1)),
        scaled(col("user_id"), b.getLong(2), b.getLong(3)))
      graft.Tables.withConfs(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        ev.withColumn("zkey", zkey)
          .repartitionByRange(8, col("zkey"))
          .sortWithinPartitions(col("zkey"))
          .drop("zkey")
          .write.mode("overwrite")
          .option("parquet.block.size", FixtureRowGroupBytes.toString)
          .parquet(out)
      }
      out
    }

  private[graft] def zOrderedEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureZOrdered(spark, dir))

  /** Gate query (q_zorder_scan): KPIs for a user slice within a time
    * window over the Morton layout. Result is identical to the same
    * filters over the raw table (the layout holds the same rows — the
    * oracle is the plain WHERE SQL); the plan difference is the
    * point: row-group stats on BOTH ts and user_id prune the scan. */
  def userTimeBoxKpis(spark: SparkSession, dir: String): DataFrame =
    zOrderedEvents(spark, dir)
      .where(col("user_id") < 3 &&
        col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp"))
      .groupBy(col("user_id"), Kpis.dt)
      .agg(Kpis.totalEvents, Kpis.revenue(col("value")))
      .orderBy(col("user_id"), col("dt"))
}
