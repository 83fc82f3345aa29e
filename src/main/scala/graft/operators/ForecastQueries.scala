package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Time-series forecasting over the daily KPI grain — the "what will
  * tomorrow look like" layer a KPI pipeline grows next (the reference
  * stops at descriptive daily KPIs, reference:
  * airflow/dags/daily_kpis.py:109-140). Two models, both exact and
  * engine-portable:
  *
  *  - [[holtTrend]]: Holt's linear-trend double exponential
  *    smoothing, the standard level+trend recursion, with a
  *    backtested one-step-ahead MAPE so the forecast ships with its
  *    own measured error.
  *  - [[olsTrend]]: closed-form least-squares line per series
  *    (slope/intercept/R^2 from the five classic sums) — the
  *    distributive formulation: one map-side-combinable aggregation,
  *    no collect, no iteration.
  *
  * Scale: both reduce events to the series x day grain first (ONE
  * data-sized, map-side-combinable aggregation). Holt's recursion is
  * inherently sequential per series, so it folds a per-series sorted
  * array — bounded by days-per-series (years of dailies = a few
  * thousand structs), NOT by data volume; millions of independent
  * series still parallelize across the groupBy. OLS needs no
  * sequence at all and stays distributive end-to-end.
  */
object ForecastQueries {
  import graft.Tables.load

  /** Smoothing constants — level and trend. The complements are
    * spelled as literals, NOT computed as 1 - Beta: 1.0 - 0.3 in IEEE
    * double lands a rounding tie that an engine may break differently
    * from parsing the literal 0.7, and a 1-ulp seed difference
    * compounds through the recursion. Literals parse to the same
    * nearest-double on every engine. */
  val Alpha = 0.5
  val Beta = 0.3
  val OneMinusAlpha = 0.5
  val OneMinusBeta = 0.7

  private def daily(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("x"))

  /** Holt's linear method per event_type series: l_1 = x_1,
    * b_1 = x_2 - x_1, then for t >= 2
    * {{{
    *   l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
    *   b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
    * }}}
    * emitting the final state, the one-step forecast l_n + b_n, and
    * the backtested mean absolute percentage error of the n-1
    * one-step-ahead forecasts made along the way (forecast for t is
    * l_{t-1} + b_{t-1}, scored against x_t; counts are >= 1 so the
    * denominator is safe). The fold runs in day order on both
    * engines with identical operation shapes, so the doubles agree
    * bit-for-bit with the DuckDB recursive-CTE oracle. */
  def holtTrend(spark: SparkSession, dir: String): DataFrame = {
    val series = daily(spark, dir)
      .groupBy(col("event_type"))
      // struct sort is lexicographic on the leading dt field, which
      // is unique within a series — this IS the day order
      .agg(array_sort(collect_list(struct(col("dt"), col("x")))).as("pts"))
      .where(size(col("pts")) >= 2)
    val x1 = element_at(col("pts"), 1).getField("x").cast("double")
    val x2 = element_at(col("pts"), 2).getField("x").cast("double")
    def step(acc: Column, p: Column): Column = {
      val x = p.getField("x").cast("double")
      val prior = acc.getField("level") + acc.getField("trend")
      val l = lit(Alpha) * x + lit(OneMinusAlpha) * prior
      struct(
        l.as("level"),
        (lit(Beta) * (l - acc.getField("level")) +
          lit(OneMinusBeta) * acc.getField("trend")).as("trend"),
        (acc.getField("ape") + abs(x - prior) / x).as("ape"))
    }
    series
      .select(
        col("event_type"), size(col("pts")).cast("long").as("n_days"),
        aggregate(
          slice(col("pts"), lit(2), size(col("pts")) - 1),
          struct(x1.as("level"), (x2 - x1).as("trend"),
            lit(0.0).as("ape")),
          step).as("h"))
      .select(
        col("event_type"), col("n_days"),
        F.roundBin(col("h.level"), 6).as("level"),
        F.roundBin(col("h.trend"), 6).as("trend"),
        F.roundBin(col("h.level") + col("h.trend"), 6).as("forecast_next"),
        F.roundBin(col("h.ape") / (col("n_days") - 1), 6).as("mape"))
      .orderBy(col("event_type"))
  }

  /** STL-lite additive decomposition of the global daily event count:
    * trend = centered 7-day moving average (null at the 3-day edges
    * where the window is incomplete), seasonal = per-day-of-week mean
    * of the detrended series re-centered to sum to zero, residual =
    * n - trend - seasonal, and a |resid| > 2*sigma anomaly flag —
    * the seasonality-aware monitor that a plain z-score
    * (q_anomaly_hours) can't be: a strong weekly cycle would
    * otherwise flag every weekend.
    *
    * Engine parity: counts are integers, so the 7-day window sums are
    * exact and trend is a single deterministic division; day-of-week
    * uses Spark's dayofweek(d) - 1 == DuckDB's dayofweek(d)
    * (Sunday = 0) explicitly.
    *
    * Shape: ONE map-side-combinable count to the day grain touches
    * data; the decomposition runs on the checkpoint-pinned |days|-row
    * series (single-partition windows over 30 rows by design — at
    * years-of-history scale this is still thousands of rows on one
    * task, which is the correct plan; the data-sized stage never
    * re-runs). */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val dailyAll = load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("n"))
      // eager, like ExperimentQueries.psiOfCounts' grid
      .localCheckpoint()
    val wTrend = Window.orderBy(col("dt")).rowsBetween(-3, 3)
    val trended = dailyAll
      .withColumn("dow", (dayofweek(to_date(col("dt"))) - 1).cast("int"))
      .withColumn("trend",
        when(count(lit(1)).over(wTrend) === 7,
          sum(col("n")).over(wTrend).cast("double") / lit(7.0)))
      .withColumn("detrended", col("n") - col("trend"))
    val bySeason = trended
      .withColumn("s_raw", avg(col("detrended")).over(Window.partitionBy(col("dow"))))
      .withColumn("seasonal",
        col("s_raw") - avg(col("s_raw")).over(Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("resid", col("n") - col("trend") - col("seasonal"))
    val sd = bySeason
      .withColumn("sigma", stddev_pop(col("resid")).over(
        Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    sd.select(
      col("dt"), col("n"), col("dow"),
      F.roundBin(col("trend"), 6).as("trend"),
      F.roundBin(col("seasonal"), 6).as("seasonal"),
      F.roundBin(col("resid"), 6).as("resid"),
      coalesce(abs(col("resid")) > lit(2.0) * col("sigma"), lit(false))
        .as("anomaly"))
      .orderBy(col("dt"))
  }

  /** CUSUM reference drift `k` (in sigma units) and alarm threshold
    * `h` — the textbook defaults for detecting a sustained ~1-sigma
    * level shift. */
  val CusumK = 0.5
  val CusumH = 4.0

  /** Two-sided CUSUM change-point detection on the standardized
    * global daily count: z_t = (x_t - mu)/sigma with mu/sigma from
    * the exact integer sums (engine-deterministic — no Welford-path
    * stddev), then the classic recursions
    * {{{
    *   S+_t = max(0, S+_{t-1} + z_t - k)
    *   S-_t = max(0, S-_{t-1} - z_t - k)
    * }}}
    * alarming when either side exceeds h. Where [[stlDecompose]]
    * flags single outlier days, CUSUM accumulates small sustained
    * shifts — the level-change monitor of the family.
    *
    * The recursion folds the sorted series like [[holtTrend]], but
    * emits the whole path: the accumulator is the array of states,
    * seeded with day 1 (never empty, so the last-element access
    * needs no ANSI-hostile out-of-bounds guard), and explodes back
    * to rows at the end. Scale: one map-side-combinable count to day
    * grain touches data; the fold is |days|-bounded. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val dailyAll = load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("x"))
    val stats = dailyAll.agg(
      count(lit(1)).cast("double").as("cnt"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val series = dailyAll
      .agg(array_sort(collect_list(struct(col("dt"), col("x")))).as("pts"))
      .crossJoin(broadcast(stats))
      .withColumn("mu", col("sx") / col("cnt"))
      .withColumn("sigma",
        sqrt(col("sxx") / col("cnt") - (col("sx") / col("cnt")) *
          (col("sx") / col("cnt"))))
    def zOf(p: Column): Column =
      (p.getField("x").cast("double") - col("mu")) / col("sigma")
    def state(p: Column, spos: Column, sneg: Column): Column =
      struct(p.getField("dt").as("dt"), p.getField("x").as("x"),
        zOf(p).as("z"), spos.as("spos"), sneg.as("sneg"))
    val first = element_at(col("pts"), 1)
    val z1 = zOf(first)
    val path = aggregate(
      slice(col("pts"), lit(2), size(col("pts")) - 1),
      array(state(first,
        greatest(lit(0.0), z1 - lit(CusumK)),
        greatest(lit(0.0), -z1 - lit(CusumK)))),
      (acc, p) => {
        val last = element_at(acc, size(acc))
        concat(acc, array(state(p,
          greatest(lit(0.0), last.getField("spos") + zOf(p) - lit(CusumK)),
          greatest(lit(0.0), last.getField("sneg") - zOf(p) - lit(CusumK)))))
      })
    series
      .select(explode(path).as("p"))
      .select(
        col("p.dt").as("dt"), col("p.x").as("n"),
        F.roundBin(col("p.z"), 6).as("z"),
        F.roundBin(col("p.spos"), 6).as("cusum_pos"),
        F.roundBin(col("p.sneg"), 6).as("cusum_neg"),
        (col("p.spos") > lit(CusumH) || col("p.sneg") > lit(CusumH))
          .as("alarm"))
      .orderBy(col("dt"))
  }

  /** Closed-form OLS fit of daily count vs day index t = 1..n per
    * event_type: slope/intercept from the classic sum formulation
    * {{{
    *   slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    * }}}
    * plus R^2 = 1 - SSE/SST via the equivalent correlation form
    * (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2)), and the
    * fitted value at t = n+1. Day index comes from one per-series
    * window rank (small grain); the five sums are ONE distributive
    * aggregation — at a billion series this is still a single
    * shuffle at series grain with map-side partials. */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("dt"))
    val t = daily(spark, dir)
      .withColumn("t", row_number().over(w).cast("double"))
      .withColumn("y", col("x").cast("double"))
    val n = count(lit(1)).cast("double")
    val (sx, sy) = (sum(col("t")), sum(col("y")))
    val (sxx, syy, sxy) =
      (sum(col("t") * col("t")), sum(col("y") * col("y")),
        sum(col("t") * col("y")))
    t.groupBy(col("event_type"))
      .agg(n.as("n"), sx.as("sx"), sy.as("sy"), sxx.as("sxx"),
        syy.as("syy"), sxy.as("sxy"))
      .select(
        col("event_type"), col("n").cast("long").as("n_days"),
        F.roundBin(((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))), 6).as("slope"),
        F.roundBin(((col("sy") - col("sx") *
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n")), 6)
          .as("intercept"),
        F.roundBin(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"),
        F.roundBin((((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * (col("n") + 1) +
          ((col("sy") - col("sx") *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"))),
          6).as("fit_next"))
      .orderBy(col("event_type"))
  }
}
