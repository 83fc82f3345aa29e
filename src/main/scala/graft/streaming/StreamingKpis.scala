package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Kpis

/** Streaming KPI aggregation — the KPI-as-stream upgrade path the
  * reference computes as a daily batch (SURVEY.md §2.9 ST3/ST6):
  * watermarked event-time windows instead of day-partition recompute.
  *
  * State posture at scale: the watermark bounds state to
  * (windows within lateness) × (grouping cardinality); distinct-user
  * counts use approx_count_distinct because exact distinct over an
  * unbounded stream cannot bound state (reference keeps an in-memory
  * set per day — daily_kpis.py:111 — which cannot scale past one
  * node).
  *
  * The counts, the revenue rounding and the `event_ts` parse are
  * [[graft.model.Kpis]]'s, as in the batch job: a window's revenue is
  * what `DailyKpis` reports for the same rows, and a line whose
  * `event_ts` does not parse has no event time, so it counts in no
  * window instead of failing the query.
  */
object StreamingKpis {

  /** Tumbling event-time window KPIs with allowed lateness
    * (ST3/ST6). Input: any DataFrame (stream or batch) with the event
    * schema; late rows beyond the watermark are dropped — the
    * streaming tradeoff vs. the reference's unbounded-lateness batch
    * recompute, which `graft.batch.DailyKpis` preserves. */
  def windowed(events: DataFrame, window: String = "1 hour",
               lateness: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", Kpis.eventTime)
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"))
      .agg(Kpis.totalEvents, approx_count_distinct(col("user_id")).as("approx_users"),
        Kpis.pageviews, Kpis.purchases, Kpis.revenue(col("price")))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("total_events"), col("approx_users"), col("pageviews"),
        col("purchases"), col("revenue_usd"))

  /** Session windows per user: gap-based sessionization as a native
    * streaming operator (ST6 extension; session_window state is merged
    * incrementally, single shuffle on user_id). */
  def sessions(events: DataFrame, gap: String = "30 minutes",
               lateness: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", Kpis.eventTime)
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(Kpis.totalEvents.as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
}
