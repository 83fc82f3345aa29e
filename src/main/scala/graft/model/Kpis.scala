package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.F

/** THE KPI policy (reference: daily_kpis.py:109-140), defined once for
  * the batch job (DailyKpis), the declared queries and the streaming
  * path (StreamingKpis), so no codepath can drift from another.
  *
  * - Event-type sets match the reference's exactly (daily_kpis.py:124-127:
  *   pageviews = page_view/pageview/view, purchases =
  *   purchase/order/checkout; 'click' is NOT a pageview there, so it
  *   isn't one here either), null-safely on the reference's
  *   `str(x).lower()` coercion.
  * - Revenue rounds with F.roundBin (round-half-up on the binary
  *   double, matching DuckDB/SQL `round()`), a documented deviation
  *   from Python's `round` (daily_kpis.py:139, HALF_EVEN on the
  *   shortest decimal repr): 0.125 reads 0.13 on every path.
  * - `event_ts` parses with `try_to_timestamp`: under ANSI mode a
  *   garbled but well-formed line reads as a NULL event time instead of
  *   failing the query.
  *
  * Aggregates carry the reference's output names; a query that
  * renames one re-aliases it at its call site. Each caller picks the
  * columns it needs, over the column names it has (`price` on the raw
  * zone, `value` on the fixture).
  */
object Kpis {
  def isPageview(c: Column): Column =
    lower(coalesce(c, lit(""))).isin("page_view", "pageview", "view")
  def isPurchase(c: Column): Column =
    lower(coalesce(c, lit(""))).isin("purchase", "order", "checkout")

  /** The day key of an event time `ts`. */
  val dt: Column = date_format(col("ts"), "yyyy-MM-dd").as("dt")

  /** The event time of a raw line; NULL when `event_ts` does not parse. */
  val eventTime: Column = try_to_timestamp(col("event_ts"))

  val totalEvents: Column = count(lit(1)).as("total_events")
  val uniqueUsers: Column = countDistinct(col("user_id")).as("unique_users")
  val uniqueSessions: Column = countDistinct(col("session_id")).as("unique_sessions")
  val pageviews: Column = sum(when(isPageview(col("event_type")), 1L).otherwise(0L)).as("pageviews")
  val purchases: Column = sum(when(isPurchase(col("event_type")), 1L).otherwise(0L)).as("purchases")

  def revenue(price: Column): Column =
    F.roundBin(sum(when(isPurchase(col("event_type")), coalesce(price, lit(0.0)))
      .otherwise(0.0)), 2).as("revenue_usd")
}
