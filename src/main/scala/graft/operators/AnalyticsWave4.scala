package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.model.Kpis

/** Fourth-wave analytics operators (r8): the batch MERGE-INTO upsert
  * (the warehouse mutation primitive next to the streaming upsert and
  * SCD2 builds), cumulative distinct over an ordered window (a
  * DISTINCT window aggregate neither Spark nor a first-seen-free SQL
  * rewrite supports directly — re-expressed as first-seen flags + a
  * running sum), and a trailing rolling median (an aggregate OVER a
  * bounded frame, the robust-smoothing complement to q_ewma_hours).
  *
  * All three produce exactly-checkable output (no estimates), so they
  * gate hash-exact against DuckDB.
  */
object AnalyticsWave4 {
  import graft.Tables.load

  /** Interpolated into BOTH the Spark query and its DuckDB oracle
    * (SparkEntry) so the two sides cannot drift. */
  private[graft] val MergeSplit = "2024-01-10"
  private[graft] val MergeCutoff = "2024-01-16"

  /** Batch MERGE INTO (upsert audit): a daily-KPI target built by an
    * OLD pipeline version (days < 2024-01-16, with its historical
    * defect: `error` events silently dropped) is merged with a
    * corrected source recompute covering days >= 2024-01-10 —
    * WHEN MATCHED update, WHEN NOT MATCHED insert, NOT MATCHED BY
    * SOURCE keep, plus the per-row `action` tag an audit trail wants.
    * This is the full-outer-join formulation every engine lowers
    * MERGE to (reference analog: the daily KPI overwrite job at
    * daily_kpis.py:142-172, which can only blind-replace whole days).
    *
    * Scale: one full-outer shuffle at DAY grain (the two KPI inputs
    * aggregate first — events-grain work is two pushed-down scans);
    * the merge itself touches |target days ∪ source days| rows. At
    * 100 TB the same plan writes back via dynamic partition overwrite
    * of exactly the source's day partitions — the `action='keep'`
    * rows never rewrite (asserted for the streaming sibling by
    * StreamSketchSpec's two-drain test). */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    def kpis(df: DataFrame): DataFrame =
      df.groupBy(Kpis.dt).agg(Kpis.totalEvents, Kpis.uniqueUsers, Kpis.revenue(col("value")))
    val ev = load(spark, dir, "events")
    val target = kpis(ev
        .where(to_date(col("ts")) < lit(MergeCutoff))
        .where(lower(coalesce(col("event_type"), lit(""))) =!= "error"))
      .select(col("dt").as("t_dt"), col("total_events").as("t_n"),
        col("unique_users").as("t_u"), col("revenue_usd").as("t_rev"))
    val source = kpis(ev.where(to_date(col("ts")) >= lit(MergeSplit)))
      .select(col("dt").as("s_dt"), col("total_events").as("s_n"),
        col("unique_users").as("s_u"), col("revenue_usd").as("s_rev"))
    target.join(source, col("t_dt") === col("s_dt"), "full_outer")
      .select(
        coalesce(col("s_dt"), col("t_dt")).as("dt"),
        coalesce(col("s_n"), col("t_n")).as("total_events"),
        coalesce(col("s_u"), col("t_u")).as("unique_users"),
        coalesce(col("s_rev"), col("t_rev")).as("revenue_usd"),
        when(col("s_dt").isNotNull && col("t_dt").isNotNull, lit("update"))
          .when(col("t_dt").isNull, lit("insert"))
          .otherwise(lit("keep")).as("action"))
      .orderBy(col("dt"))
  }

  /** Cumulative distinct users per day — `count(DISTINCT user_id)
    * OVER (ORDER BY day)` is unsupported as a window aggregate in
    * Spark (and unbounded-state in any engine if taken literally), so
    * it lowers to the first-seen rewrite: min(day) per user (ONE
    * user-grain shuffle — the only data-sized work), per-day
    * first-seen counts, and a running sum over the |days|-row grid.
    * The growth-accounting identity (cumulative distinct = Σ new) is
    * exact, not an estimate. At 100 TB the user-grain aggregate is
    * the same shuffle any distinct pays once; the window runs at day
    * grain (|days| rows, bounded by time). */
  def cumulativeDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val firstSeen = ev
      .groupBy(col("user_id"))
      .agg(min(date_format(col("ts"), "yyyy-MM-dd")).as("dt"))
      .groupBy(col("dt")).agg(count(lit(1)).as("new_users"))
    val days = ev.select(date_format(col("ts"), "yyyy-MM-dd").as("dt")).distinct()
    val w = Window.orderBy(col("dt")).rowsBetween(Window.unboundedPreceding, 0)
    days.join(firstSeen, Seq("dt"), "left")
      .select(col("dt"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .select(col("dt"), col("new_users"),
        sum(col("new_users")).over(w).as("cum_users"))
      .orderBy(col("dt"))
  }

  /** Trailing 7-day rolling median (+ mean) of daily purchase
    * revenue — robust smoothing for the anomaly/trend dashboards
    * q_ewma_hours serves with decay weighting. The exact
    * `percentile` aggregate runs OVER a bounded 7-row frame at
    * post-aggregation day grain, so the windowed digest holds ≤ 7
    * values per row at any corpus size — aggregate-over-frame is free
    * once the grain is time-bounded. The data-sized work is the one
    * day-grain KPI aggregation underneath. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .groupBy(Kpis.dt)
      .agg(Kpis.revenue(col("value")).as("rev"))
    val w = Window.orderBy(col("dt")).rowsBetween(-6, 0)
    daily.select(col("dt"), col("rev"),
        F.roundBin(expr("percentile(rev, 0.5D)").over(w), 2).as("rev_med7"),
        F.roundBin(avg(col("rev")).over(w), 2).as("rev_avg7"))
      .orderBy(col("dt"))
  }
}
