package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Kpis

/** Sort-clustered layout + zone-map data skipping (SURVEY.md §2
  * S-family scale extension, the scan-side sibling of
  * [[BucketedJoin]]'s join-side layout): the event table is written
  * ONCE range-partitioned and sorted by event time, so every parquet
  * row group covers a narrow, disjoint time band and its footer
  * min/max statistics become zone maps — a time-range query reads
  * only the row groups its predicate touches, not the table. This is
  * the layout the reference approximates with `date=/hour=` prefixes
  * (ingest_clickstream_to_s3.py:71), pushed one level deeper: inside
  * files, at statistics granularity, for arbitrary range predicates
  * (no partition-column explosion at second/minute grain).
  *
  * Mechanics: `repartitionByRange(ts)` gives disjoint per-file time
  * bands (one range shuffle, write-once cost); `sortWithinPartitions`
  * tightens every row group's min/max to near-contiguous spans; the
  * reader then prunes whole row groups from the pushed-down ts
  * bounds (`PushedFilters` + parquet group stats — no record-level
  * decode of skipped groups). At 100 TB the layout job is the same
  * one-shuffle write and queries read predicate-proportional bytes;
  * on the fixture the row-group size is shrunk (64 KiB vs the
  * production 128 MiB default) so the skipping is observable and
  * spec-asserted at small scale.
  *
  * The layout is built once per events snapshot ([[graft.Artifacts]]):
  * steady-state timings measure the query, not the write, exactly the
  * production layout-job/query split.
  */
object SortedLayout {
  /** Fixture row-group size: small enough that a 3-day predicate over
    * a 30-day table skips most groups even at sf0.001. Production
    * leaves the parquet default (one group ≈ one HDFS block). */
  val FixtureRowGroupBytes: Int = 64 * 1024

  /** Write-once ts-sorted events layout; returns its path. */
  private[graft] def ensureSorted(spark: SparkSession, dir: String): String =
    graft.Artifacts.memo("sorted-layout", spark, dir, Seq("events")) {
      val out = graft.Artifacts.tempDir("graft-sorted").resolve("events").toString
      // TIMESTAMP_MICROS, not Spark's legacy INT96 default: INT96
      // columns carry NO parquet min/max statistics and no filter
      // pushdown — with the default, the zone maps this layout exists
      // for would silently not exist (verified: stats=None on an
      // INT96 write). Micros is also the modern interchange type.
      graft.Tables.withConfs(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        graft.Tables.load(spark, dir, "events")
          .repartitionByRange(8, col("ts"))
          .sortWithinPartitions(col("ts"))
          .write.mode("overwrite")
          .option("parquet.block.size", FixtureRowGroupBytes.toString)
          .parquet(out)
      }
      out
    }

  /** Reader for the sorted layout (plain parquet — ts was normalized
    * to TimestampType by Tables.load before the write). */
  private[graft] def sortedEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureSorted(spark, dir))

  /** Manifest build (q_file_manifest): per-FILE min/max/count stats
    * over the sorted layout — the Iceberg/Delta-style metadata table
    * that lets a planner prune whole files from O(|files|) driver-side
    * metadata without opening a single parquet footer. One scan
    * grouped by `input_file_name()` (file identity is a scan-local
    * column — no shuffle key wider than the stats); file paths are
    * env-specific temp names, so the output carries a rank index
    * instead. SortedLayoutSpec asserts the per-file properties that
    * make the manifest usable (disjoint [min,max] time ranges across
    * files, full row coverage) and [[manifestAudit]] turns the same
    * invariants into the oracle-gated q_file_manifest row. At 100 TB
    * this job IS the manifest-refresh a table format runs per
    * commit. */
  def fileManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = sortedEvents(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        count(lit(1)).as("n_rows"))
    stats
      .select(
        row_number().over(Window.orderBy(col("min_ts"), col("file"))).as("file_idx"),
        col("min_ts"), col("max_ts"), col("n_rows"))
      .orderBy(col("file_idx"))
  }

  /** Accuracy-gated form of the manifest (r8, q_file_manifest): file
    * boundaries are engine-defined (range-partitioner splits), so the
    * per-file rows can't be oracle values — but the properties that
    * make the manifest USABLE are exact and checkable: full row
    * coverage (Σ n_rows = table count), the global [min, max] time
    * band, and pairwise-disjoint per-file ranges. One summary row;
    * DuckDB pins the exact columns by hash and `ranges_disjoint` is
    * the engine's claim (TRUE in the oracle). The per-file detail
    * stays spec-gated in SortedLayoutSpec via [[fileManifest]]. */
  def manifestAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("file_idx"))
    fileManifest(spark, dir)
      .select(col("min_ts"), col("max_ts"), col("n_rows"),
        lag(col("max_ts"), 1).over(w).as("prev_max"))
      .agg(
        sum(col("n_rows")).as("total_rows"),
        date_format(min(col("min_ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
        date_format(max(col("max_ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
        // STRICT inequality (r9): with second-granularity timestamps,
        // `prev_max <= min_ts` would also pass boundary-touching
        // inclusive ranges, over-claiming the non-overlap invariant.
        // Strict holds here by construction — RangePartitioner never
        // splits equal keys across partitions, so files share no ts
        // value — and now the claim actually asserts it.
        (count(lit(1)) === sum(when(col("prev_max").isNull ||
          col("prev_max") < col("min_ts"), 1L).otherwise(0L)))
          .as("ranges_disjoint"))
  }

  /** Per-file stats WITH paths — the planner-side form of
    * [[fileManifest]] (paths are env-specific, so the gated query
    * exposes only the rank index). */
  private[graft] def manifestWithPaths(spark: SparkSession, dir: String): DataFrame =
    sortedEvents(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        count(lit(1)).as("n_rows"))

  /** Manifest-DRIVEN scan (q_manifest_kpis): the consuming half of
    * [[fileManifest]] — plan the file list from the stats table
    * (an O(|files|) driver-side filter over manifest rows, the move
    * every table format makes instead of listing+footer-reading), then
    * read ONLY the files whose [min,max] band intersects the
    * predicate. Result is identical to filtering the full layout (the
    * oracle is the plain WHERE SQL — same one as q_sorted_scan);
    * SortedLayoutSpec asserts the plan opened a strict subset of
    * files. */
  def manifestPrunedKpis(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = ("2024-01-10", "2024-01-13")
    val files = manifestWithPaths(spark, dir)
      .where(col("max_ts") >= lit(lo).cast("timestamp") &&
        col("min_ts") < lit(hi).cast("timestamp"))
      .select(col("file"))
      .collect().map(_.getString(0)) // O(|files|) planner metadata, never data
    spark.read.parquet(files.toIndexedSeq: _*)
      .where(col("ts") >= lit(lo).cast("timestamp") &&
        col("ts") < lit(hi).cast("timestamp"))
      .groupBy(Kpis.dt)
      .agg(Kpis.totalEvents, Kpis.uniqueUsers, Kpis.revenue(col("value")))
      .orderBy(col("dt"))
  }

  /** Gate query (q_sorted_scan): daily KPIs over a 3-of-30-day time
    * window on the sorted layout. Result is identical to the same
    * filter over the raw events table (the layout holds the same
    * rows — the oracle is the plain WHERE SQL); the plan difference
    * is the point: the scan reads ~1/10 of the row groups. */
  def tsRangeKpis(spark: SparkSession, dir: String): DataFrame =
    sortedEvents(spark, dir)
      .where(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp"))
      .groupBy(Kpis.dt)
      .agg(Kpis.totalEvents, Kpis.uniqueUsers, Kpis.revenue(col("value")))
      .orderBy(col("dt"))
}
