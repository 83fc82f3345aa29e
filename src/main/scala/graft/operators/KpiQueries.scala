package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Reference-parity KPI queries over the `events` fixture table.
  *
  * Mirrors the reference's daily-KPI semantics (reference:
  * airflow/dags/daily_kpis.py:109-140 — single-pass fold computing
  * count / exact-distinct / conditional counts / conditional sum) as
  * declarative Spark aggregates so Catalyst gets partial aggregation,
  * whole-stage codegen and (at scale) partition-pruned scans for free.
  *
  * Fixture schema (FIXTURES.md): event_id i64, ts timestamp, user_id
  * i64, event_type string {click,purchase,error,signup,view}, value
  * double, props string(JSON).
  *
  * Scale notes (100 TB): all aggregates here are algebraic (map-side
  * partial agg); the only shuffle is on the grouping key. Exact
  * distincts expand to a two-phase plan; `q_approx_distinct` is the
  * declared-accuracy HLL variant for the 100 TB path
  * (reference daily_kpis.py:111 uses exact in-memory sets, which cannot
  * scale past one node).
  */
object KpiQueries {
  import graft.Tables.load

  import graft.model.Kpis

  /** Daily KPI rollup — the reference's flagship computation
    * (daily_kpis.py:142-172), generalized from one-day-per-run to
    * all-days-in-one-job (SURVEY.md §2.3 A6): the per-day Airflow
    * backfill parallelism becomes intra-job shuffle parallelism.
    */
  def kpiDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(Kpis.dt)
      .agg(Kpis.totalEvents, Kpis.uniqueUsers, Kpis.pageviews, Kpis.purchases,
        Kpis.revenue(col("value")))
      .orderBy(col("dt"))
  }

  /** Whole-range KPI totals — the one-row shape the reference writes
    * per day (daily_kpis.py:133-140). */
  def kpiTotal(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.agg(Kpis.totalEvents, Kpis.uniqueUsers,
      countDistinct(col("event_type")).as("unique_event_types"),
      Kpis.pageviews, Kpis.purchases, Kpis.revenue(col("value")))
  }

  /** Projection / scalar-expression parity row query: null-safe lower
    * (daily_kpis.py:123), null-to-zero coercion (daily_kpis.py:128-131),
    * set-membership predicate (daily_kpis.py:124-126), date/hour
    * derivation (ingest_clickstream_to_s3.py:39-40). */
  def eventsClean(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        hour(col("ts")).as("hh"),
        lower(coalesce(col("event_type"), lit(""))).as("event_type"),
        coalesce(col("value").cast("double"), lit(0.0)).as("value"),
        col("user_id"))
      .where(col("event_type").isin("view", "click", "purchase"))
      .orderBy(col("event_id"))
  }

  /** Group-by-(day,hour) — the ingest stage's bucketing
    * (ingest_clickstream_to_s3.py:41) expressed as an aggregation. */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        hour(col("ts")).as("hh"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("unique_users"))
      .orderBy(col("dt"), col("hh"))
  }

  /** ROLLUP over (day, event_type) — grouping-sets surface (SURVEY.md
    * §2.3, "free via Catalyst"). */
  /** ST6 SLIDING window (2h width, 1h slide) over event time — the one
    * window shape tumbling/session don't cover. Spark's `window()`
    * expands each event into width/slide = 2 window memberships BEFORE
    * the aggregation (so partial agg still collapses map-side: the
    * shuffle carries per-(window, partition) partials, not 2× events);
    * identical in batch and streaming (streaming adds a watermark).
    * The oracle reproduces the expansion as a UNION ALL of the two
    * shifted hour-truncations. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("n_events"))
      .orderBy(col("window_start"))
  }

  def eventsRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.rollup(
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        F.roundBin(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
      .orderBy(col("dt").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  /** JSON field extraction from the string `props` column —
    * schema-on-read parity (SURVEY.md §1.4, P1). */
  def eventsPropsJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        F.roundBin(avg(col("k")), 2).as("avg_k"))
      .orderBy(col("event_type"))
  }

  /** Freshness / exists early-exit (ingest_healthcheck.py:22-31):
    * "any event within 20 minutes of the max timestamp?" — a
    * limit-1-style existence test expressed so LimitPushDown applies. */
  def existsFresh(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 20 MINUTES")).as("cut"))
    val fresh = ev.join(broadcast(cutoff)).where(col("ts") >= col("cut")).limit(1)
    fresh.agg((count(lit(1)) > 0).as("fresh"))
  }

  /** Gap-based sessionization (SURVEY.md §2.5 extension): a new session
    * starts after a >30 min silence. lag window + conditional sum.
    * At scale: single shuffle on user_id; state bounded per user. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("new_sess")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** ST6 `session_window` under the oracle gate: the native
    * streaming session operator, run in batch mode over the fixture
    * (batch ≡ stream at lateness=∞), rolled up per user so it answers
    * the same question as [[sessionize]]. Timestamps are truncated to
    * seconds first: session_window compares at µs precision while the
    * SQL oracle's date_diff('second') counts second boundaries, so
    * integral-second inputs make the two gap tests identical. Boundary
    * convention: an event at EXACTLY session_end (= last + gap) still
    * MERGES — the split is strictly diff > gap, identical to
    * [[sessionize]] (empirically verified; sf0.1 has an exact-1800 s
    * gap that exposed the earlier >=-boundary assumption as wrong). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    // second-truncated TIMESTAMP passed straight through — an earlier
    // revision formatted to an ISO string and re-parsed it inside
    // StreamingKpis.sessions (try_to_timestamp on a timestamp is a no-op),
    // paying a format+parse round-trip over every row
    val ev = load(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("second", col("ts")).as("event_ts"))
    graft.streaming.StreamingKpis.sessions(ev, gap = "30 minutes")
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** HLL++ approximate-distinct variant for the 100 TB path (SURVEY.md
    * §2.3 A2), oracle-gated on accuracy: emits
    * `within_5pct = |approx - exact| <= 5% * exact`, which the SQL
    * oracle asserts as TRUE (HLL at lgConfigK=14 is deterministic for
    * a given input, so this is a stable gate, ~6 sigma of slack).
    *
    * ONE scan: first reduce to distinct (event_type, user_id) pairs
    * (two-phase agg with map-side combine), then compute BOTH counts
    * from the deduped pairs — count(user_id) IS the exact distinct,
    * and the HLL sketch of already-unique values yields the identical
    * estimate (sketches are insensitive to multiplicity). This also
    * avoids the RewriteDistinctAggregates trap (count(DISTINCT) + HLL
    * in ONE Aggregate ⇒ a 2^p-register sketch buffer PER USER):
    * neither aggregate here is DISTINCT, so both stay plain two-phase. NULL event_type groups survive
    * naturally (no join needed). At 100 TB the pair-dedup shuffle
    * carries |distinct pairs| rows — the same shuffle an exact
    * distinct pays anyway; a pure-approx production variant would
    * skip the dedup and shuffle only HLL partials. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      // lgConfigK=14 ⇒ sketch σ ≈ 0.8% ⇒ the 5% gate sits at ~6 sigma
      // — a reseeded fixture or new scale can't flip it spuriously.
      // hll_sketch_agg is a TypedImperativeAggregate: its 2^14
      // registers are ONE object buffer on the ObjectHashAggregate
      // path. approx_count_distinct at rsd 0.01 models them as ~1537
      // buffer COLUMNS, which knocked the whole stage out of efficient
      // codegen (2.5× on this query, r6).
      .agg(count(col("user_id")).as("exact_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14)).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** PIVOT (long→wide): per-day event counts, one column per event
    * type. The pivot VALUES are given explicitly — without them Spark
    * runs an extra distinct-scan job just to discover the columns,
    * and at 100 TB an unbounded pivot width is a schema bug anyway
    * (wide schemas must be declared, not inferred). Missing
    * (day, type) combos surface as NULL from the pivot and are
    * coalesced to 0 — the contract a downstream consumer of a count
    * matrix expects. */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("dt") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("dt"))
  }

  /** UNPIVOT (wide→long): the daily KPI row melted to (dt, metric,
    * value) — the shape metric stores and plotting layers consume.
    * Row expansion is map-side (Expand node), no shuffle beyond the
    * KPI aggregation itself. */
  def unpivotKpis(spark: SparkSession, dir: String): DataFrame = {
    val kpis = load(spark, dir, "events")
      .groupBy(Kpis.dt)
      .agg(Kpis.totalEvents, Kpis.pageviews, Kpis.purchases)
    kpis.unpivot(
        Array(col("dt")),
        Array(col("total_events"), col("pageviews"), col("purchases")),
        "metric", "value")
      .orderBy(col("dt"), col("metric"))
  }

  /** The PRODUCTION 100 TB approximate-distinct: pure HLL partials,
    * no pair-dedup pre-pass. Each map task folds its rows into one
    * 2^p-register sketch per group; the shuffle carries
    * |groups| × sketch-size bytes TOTAL (kilobytes), independent of
    * row count — vs [[approxDistinct]]'s |distinct pairs| shuffle
    * rows. Once a sketch is in HLL mode its merge is a register max,
    * which is commutative and associative.
    *
    * Accuracy-gated oracle (r9, formerly rows-only): the exact
    * per-group distinct rides the output row so DuckDB pins
    * (event_type, exact_users) by hash, and the HLL estimate is
    * gated by the within_5pct CLAIM (Verify fails a false or NULL
    * claim at any scale). The exact side is a SEPARATE aggregation
    * joined on the |groups|-row key so the HLL agg keeps its
    * Expand-free one-pass plan — the 100 TB serving path is the
    * sketch; the exact pass exists to make the claim checkable. */
  def approxDistinctFast(spark: SparkSession, dir: String): DataFrame = {
    val est = load(spark, dir, "events")
      .groupBy(col("event_type"))
      // lgConfigK=12 ⇒ σ ≈ 1.6% — the narrow fast-path sketch, same
      // single-buffer aggregate as the gated query
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("approx_users"))
    val exact = load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** Retention cohort triangle — users grouped by FIRST-seen day,
    * counted on each subsequent active day (the (cohort, day-offset)
    * matrix behind every retention curve). Shape: ONE data-sized
    * shuffle — collect_set(active days) per user (map-side partial
    * dedup makes the shuffled payload ≤ |window days| per user, here
    * 30, production ≤ retention horizon) — then cohort day, offsets,
    * and the |days²/2|-row rollup all derive map-side from that
    * per-user array (array_min + explode). The naive formulation
    * (distinct (user,day) pairs → min-reduce → join back) shuffles
    * the pair set twice and joins; this one never joins at all. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("d")).as("days"))
      .select(array_min(col("days")).as("first_day"), explode(col("days")).as("d"))
      .select(date_format(col("first_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("d"), col("first_day")).as("day_k"))
      .groupBy(col("cohort"), col("day_k"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort"), col("day_k"))
  }

  /** Event-type transition matrix — next-event frequencies per user
    * timeline (the Markov-chain view of clickstream behavior, and the
    * input to next-action models). One lead() over the per-user
    * time-ordered window (event_id tiebreak: the fixture can carry
    * equal timestamps), then a |types²|-row count rollup. One
    * exchange on user_id; the window state is one row. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        lower(coalesce(col("event_type"), lit(""))).as("et"))
      .withColumn("next_et", lead(col("et"), 1).over(w))
      .where(col("next_et").isNotNull)
      .groupBy(col("et"), col("next_et"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("et"), col("next_et"))
  }

  /** RFM segmentation — the per-entity scoring + quantile-bucketing
    * pattern (recency / frequency / monetary quartiles per purchasing
    * user, rolled up to segment sizes). Shape: one groupBy(user) over
    * purchase rows, then three ntile(4) windows over the |users|-row
    * AGGREGATE (global-ordered with user_id tiebreaks so quartile
    * assignment is engine-stable), then a ≤64-row segment rollup. At
    * 100 TB the user aggregate is the only data-sized pass; the
    * window sorts |users| scoring rows, and if even that overflows
    * one partition the ntile generalizes to the qsketch quantile cut
    * ([[graft.operators.TpchQueries.quantileRollup]] thresholds +
    * map-side bucketing) at ε accuracy. */
  /** Distributed exact global ntile(k) — SQL row-position semantics
    * without the single-partition window (r13, from the round's WARN
    * audit: the three `ntile OVER (ORDER BY …)` windows in
    * [[rfmSegments]] ran over the per-USER aggregate, the one
    * data-sized frame in the global-window family — every other
    * global window here rides a bounded day/month/vocab-grain
    * aggregate). The [[graft.operators.TrainingQueries.tokenBudget]]
    * two-pass pattern, at rank grain: (1) range-partition by the sort
    * key (boundaries globally ordered, layout pinned via
    * localCheckpoint so both passes agree); (2) per-partition row
    * counts collect to the driver — O(#partitions), not O(rows) — and
    * a scan hands each partition its global rank offset; (3)
    * per-partition row_number + offset = exact global rank, and the
    * tile comes from SQL ntile's closed form (first n mod k tiles get
    * ⌈n/k⌉ rows). `sortCols` must totally order the frame (callers
    * tiebreak on the key) so the rank — and therefore every tile —
    * is deterministic and engine-independent.
    *
    * ADAPTIVE cutover (the broadcast-join discipline): below
    * `windowMax` rows the plain global window is the better plan —
    * one task sorting a few million aggregated rows beats three jobs
    * of exchange+collect+join overhead — and above it the two-pass
    * rank takes over. `n` is the frame's exact row count (the tile
    * arithmetic needs it, and the distributed branch re-derives and
    * loudly cross-checks it); a caller that has already BOUNDED the
    * frame below the cutover may pass that bound instead — the window
    * path never reads it. A spec pins the two paths byte-identical. */
  private[graft] def globalNtile(df: DataFrame, n: Long,
                                 sortCols: Seq[Column], k: Int, out: String,
                                 windowMax: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (n <= windowMax)
      return df.withColumn(out, ntile(k).over(Window.orderBy(sortCols: _*)))
    val ranged = df.repartitionByRange(sortCols: _*).localCheckpoint()
    // helper columns use a reserved __gntile_ prefix (r14 advisor): an
    // input frame that legitimately carries a `pid`/`off`-style name
    // must not be clobbered by the rank plumbing
    val counts = ranged
      .groupBy(spark_partition_id().as("__gntile_pid"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // the caller-priced n drives the tile arithmetic — a mismatch with
    // the materialized layout would mis-size every tile, so fail loudly
    require(counts.map(_._2).sum == n,
      s"globalNtile: caller passed n=$n but the ranged layout holds " +
        s"${counts.map(_._2).sum} rows")
    val offsets = counts
      .scanLeft((-1, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
      .sliding(2).collect { case Array((_, off), (pid, _)) => (pid, off) }
      .toSeq
    import df.sparkSession.implicits._
    val offDf = broadcast(offsets.toDF("__gntile_pid", "__gntile_off"))
    val q = n / k
    val rem = n % k
    val ranked = ranged.withColumn("__gntile_pid", spark_partition_id())
      .withColumn("__gntile_lr", row_number().over(
        Window.partitionBy(col("__gntile_pid")).orderBy(sortCols: _*)))
      .join(offDf, Seq("__gntile_pid"))
      .withColumn("__gntile_gr", col("__gntile_lr") + col("__gntile_off"))
    // SQL ntile closed form over the exact global rank (1-based): the
    // first rem tiles hold q+1 rows, the rest q. floor() on nonneg
    // doubles is exact below 2^52 rows.
    val tile =
      when(col("__gntile_gr") <= lit(rem * (q + 1)),
        floor((col("__gntile_gr") - 1) / lit((q + 1).toDouble)))
        .otherwise(lit(rem) +
          floor((col("__gntile_gr") - lit(rem * (q + 1)) - 1) / lit(math.max(q, 1).toDouble)))
    ranked.withColumn(out, (tile + 1).cast("int"))
      .drop("__gntile_pid", "__gntile_lr", "__gntile_off", "__gntile_gr")
  }

  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val anchor = lit("2024-01-31").cast("date")
    val per = load(spark, dir, "events")
      .where(Kpis.isPurchase(col("event_type")))
      .groupBy(col("user_id"))
      .agg(
        datediff(anchor, max(to_date(col("ts")))).as("recency_days"),
        count(lit(1)).as("frequency"),
        F.roundBin(sum(coalesce(col("value"), lit(0.0))), 2).as("monetary"))
    // three exact global quartile assignments through the adaptive
    // [[globalNtile]]: at scale each is a range exchange +
    // O(#partitions) offset scan instead of a single-partition window,
    // below the cutover it's the plain window; byte-identical either
    // way (spec-pinned). The cutover is priced for free: users ≤
    // events, and the events row count is memoized (Tables.rowCount)
    // — only a corpus that might actually exceed the window bound
    // pays the exact user-grain count() that the tile arithmetic
    // needs.
    val n =
      if (graft.Tables.rowCount(spark, dir, "events") <= 4000000L) 1L
      else per.count()
    val scored = globalNtile(globalNtile(globalNtile(per, n,
      Seq(col("recency_days"), col("user_id")), 4, "r_q"), n,
      Seq(col("frequency").desc, col("user_id")), 4, "f_q"), n,
      Seq(col("monetary").desc, col("user_id")), 4, "m_q")
    scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        F.roundBin(avg(col("monetary")), 2).as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Trailing-range-frame anomaly scoring (W-family: RANGE frames
    * over event time, vs [[graft.operators.TpchQueries
    * .windowRunningSum]]'s ROWS frames): each hour's event count
    * z-scored against the trailing 6-excluding-current-hour window —
    * RANGE bounds are value-based (epoch-second offsets), so missing
    * hours genuinely shrink the frame instead of sliding over them,
    * which is the semantic difference this operator exists to cover.
    * The window is global-ordered but runs over the ALREADY-AGGREGATED
    * hourly table (|hours| rows — 8.8k/year at any corpus size), so
    * the single-partition sort is a non-issue at 100 TB; the
    * data-sized work is the one groupBy(hour) underneath. */
  def anomalyHours(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val trailing = Window.orderBy(unix_timestamp(col("h")))
      .rangeBetween(-6 * 3600, -3600)
    hourly
      .withColumn("mu", avg(col("n")).over(trailing))
      .withColumn("sd", stddev_samp(col("n")).over(trailing))
      .where(col("sd").isNotNull && col("sd") > 0)
      .select(date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"), col("n"),
        F.roundBin(col("mu"), 4).as("mu"),
        F.roundBin(col("sd"), 4).as("sd"),
        F.roundBin((col("n") - col("mu")) / col("sd"), 3).as("z"))
      .orderBy(col("hour"))
  }

  /** Ordered multi-step funnel (view → click → purchase within a
    * user-day) — THE clickstream analytics operator. Stage times are
    * computed as chained conditional mins over one (user_id, dt)
    * window: t_view = min view ts; t_click = min click ts AFTER
    * t_view; t_purchase = min purchase ts after t_click — strict
    * ordering, so out-of-order events never count (a purchase before
    * any view is not a conversion). All three passes share ONE hash
    * exchange on the window key (Catalyst stacks the Window nodes on
    * the same partitioning — no re-shuffle per stage), then a
    * |days|-row conditional-distinct rollup. At 100 TB: one shuffle
    * of (user, dt, type, ts) tuples, state bounded per user-day. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("dt"))
    val e = load(spark, dir, "events")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        lower(coalesce(col("event_type"), lit(""))).as("et"),
        col("ts"))
    val staged = e
      .withColumn("tv", min(when(col("et") === "view", col("ts"))).over(w))
      .withColumn("tc", min(when(col("et") === "click" && col("ts") > col("tv"),
        col("ts"))).over(w))
      .withColumn("tp", min(when(col("et") === "purchase" && col("ts") > col("tc"),
        col("ts"))).over(w))
    staged.groupBy(col("dt"))
      .agg(
        count_distinct(when(col("tv").isNotNull, col("user_id"))).as("n_view"),
        count_distinct(when(col("tc").isNotNull, col("user_id"))).as("n_view_click"),
        count_distinct(when(col("tp").isNotNull, col("user_id"))).as("n_full_funnel"))
      .where(col("n_view") > 0)
      .orderBy(col("dt"))
  }

  /** Gap-filling hourly resample — project events onto a REGULAR time
    * grid, materializing empty hours as zero rows (the step ffill-
    * style imputation ([[graft.operators.TpchQueries.forwardFill]])
    * cannot do: it repairs values on existing rows; a resample must
    * CREATE the missing rows).
    * The grid is one `sequence(start, stop, 1 hour)` + explode
    * — |hours| rows built without a scan — and the only data-sized
    * work is the one groupBy(hour) pass; at 100 TB both join sides
    * are |hours| rows regardless of corpus size. Joined on the
    * formatted hour key so both sides carry identical string
    * semantics. The broadcast hint sits on the HOURLY AGGREGATE (the
    * non-preserved side): a left-outer join can only build right, so
    * the r7 hint on the preserved grid side was silently dropped
    * (HintErrorLogger: "build left for left outer join") and the
    * 120-row join ran as a two-sided shuffle + sort-merge — caught in
    * r12 by reading the bench logs, plan-pinned in PlanSpec now. */
  def resampleHourly(spark: SparkSession, dir: String): DataFrame = {
    val grid = spark.range(1)
      .select(explode(expr(
        "sequence(timestamp '2024-01-01 00:00:00', timestamp '2024-01-05 23:00:00', interval 1 hour)"))
        .as("h"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"))
    val hourly = load(spark, dir, "events")
      .where(col("ts") < lit("2024-01-06").cast("timestamp"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"))
      .agg(Kpis.totalEvents.as("n_events"), Kpis.revenue(col("value")).as("rev"))
    grid.join(broadcast(hourly), Seq("hour"), "left_outer")
      .select(col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("rev"), lit(0.0)).as("revenue_usd"))
      .orderBy(col("hour"))
  }

  /** Day-over-day audience-overlap estimation — sketch ALGEBRA across
    * both summary families, entirely on pre-aggregated state. Per day:
    * a 64-hash MinHash signature of the user SET (element-wise-min
    * union of single-element signatures) and an HLL cardinality. For
    * each consecutive-day pair: Jaccard Ĵ = matching-component
    * fraction, then inclusion-exclusion turns it into set sizes —
    * |A∪B| = (|A|+|B|)/(1+Ĵ) and |A∩B| = Ĵ·|A∪B|. The pair join
    * touches |days| rows of (64×8 B + 4 KiB) sketches, NEVER raw
    * events — the retention-curve query a 100 TB warehouse answers
    * from its sketch table alone. Accuracy-gated oracle (r8): the
    * exact consecutive-day overlap ([[exactDayOverlap]]) rides the
    * output row, DuckDB pins it by hash, and the estimator is gated by
    * the `within_tol` claim (deterministic sketches ⇒ the bit is fixed
    * per fixture). Tolerance 15% of the exact union: 64 MinHash
    * components give Ĵ a σ of √(J(1-J)/64) ≈ 0.05 at the fixture's
    * J ≈ 0.8, and inclusion-exclusion amplifies through /(1+Ĵ) plus
    * two HLL set-size factors (σ ≈ 1.6% each) — ~3σ of the combined
    * estimator. KpiQueriesSpec additionally bounds the estimate. */
  def userOverlap(spark: SparkSession, dir: String): DataFrame =
    userOverlapRaw(spark, dir)
      .select(col("day_a"), col("day_b"), col("est_overlap"))
      .join(exactDayOverlap(spark, dir), Seq("day_a", "day_b"))
      .select(col("day_a"), col("day_b"),
        col("exact_a"), col("exact_b"), col("exact_overlap"),
        (abs(col("est_overlap") - col("exact_overlap")) <=
          (col("exact_a") + col("exact_b") - col("exact_overlap")) * lit(0.15))
          .as("within_tol"))
      .orderBy(col("day_a"))

  /** The raw MinHash×HLL estimator (spec target: KpiQueriesSpec bounds
    * est_jaccard/est_overlap against driver-side exact sets). */
  private[graft] def userOverlapRaw(spark: SparkSession, dir: String): DataFrame = {
    val N = 64
    val daily = load(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .withColumn("sig", F.minhashSig(array(col("user_id")), N))
      .groupBy(col("dt"))
      .agg(
        F.minhashUnion(col("sig"), N).as("usig"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("nd"))
    val a = daily.select(col("dt").as("day_a"), col("usig").as("a_sig"), col("nd").as("n_a"))
    val b = daily.select(col("dt").as("day_b"), col("usig").as("b_sig"), col("nd").as("n_b"))
    a.join(b, to_date(col("day_b")) === date_add(to_date(col("day_a")), 1))
      .withColumn("est_jaccard", F.roundBin(expr(
        s"size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), v -> v)) / cast($N as double)"), 4))
      .select(col("day_a"), col("day_b"), col("n_a"), col("n_b"), col("est_jaccard"),
        round(col("est_jaccard") / (col("est_jaccard") + 1.0) * (col("n_a") + col("n_b")))
          .cast("long").as("est_overlap"))
      .orderBy(col("day_a"))
  }

  /** Exact consecutive-day audience overlap — the ground truth both
    * sketch estimators ([[userOverlap]], [[kmvOverlap]]) are gated
    * against. Exists ONLY to make their accuracy claims
    * oracle-checkable: one distinct-(day, user) pass, one
    * user-keyed self-join restricted to adjacent days. At 100 TB this
    * recompute is exactly what the sketch table avoids — the serving
    * path never runs it. */
  private[graft] def exactDayOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ud = load(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .distinct()
    val n = ud.groupBy(col("dt")).agg(count(lit(1)).as("nd"))
    val ua = ud.select(col("dt").as("da"), col("user_id").as("ua"))
    val ub = ud.select(col("dt").as("db"), col("user_id").as("ub"))
    val ov = ua.join(ub,
        to_date(col("db")) === date_add(to_date(col("da")), 1) &&
          col("ua") === col("ub"))
      .groupBy(col("da")).agg(count(lit(1)).as("n_ov"))
    n.select(col("dt").as("day_a"), col("nd").as("exact_a"))
      .join(n.select(col("dt").as("day_b"), col("nd").as("exact_b")),
        to_date(col("day_b")) === date_add(to_date(col("day_a")), 1))
      .join(ov, col("da") === col("day_a"), "left")
      .select(col("day_a"), col("day_b"), col("exact_a"), col("exact_b"),
        coalesce(col("n_ov"), lit(0L)).as("exact_overlap"))
  }

  /** Day-over-day overlap via theta sketches — the DIRECT
    * set-intersection estimate (`theta_intersection`: shared retained
    * hashes below the common θ, scaled 1/θ), vs
    * [[userOverlap]]'s MinHash×HLL inclusion-exclusion. Same stored-
    * sketch economics (the pair join touches |days| × ≤8 KiB
    * sketches, never raw events), better estimator: additive
    * O(n/√k) error that stays tight even when the overlap is a small
    * FRACTION of either set — the regime where Jaccard-based
    * inclusion-exclusion washes out. Below k distinct users/day the
    * sketch holds the full hash set and the intersection is exact
    * (the sf0.001 regime KpiQueriesSpec pins; sf0.1 days of up to
    * ~1.4k users run in estimation mode). Accuracy-gated oracle (r8):
    * exact overlap ([[exactDayOverlap]]) on the row, hash-pinned by
    * DuckDB; the theta estimate gated by `within_tol` at 5% of the
    * exact union — tight
    * because the direct θ-intersection carries additive O(|A∪B|/√k)
    * error (k=1024 ⇒ ~3%) and is EXACT below capacity. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapRaw(spark, dir)
      .select(col("day_a"), col("day_b"), col("est_overlap"))
      .join(exactDayOverlap(spark, dir), Seq("day_a", "day_b"))
      .select(col("day_a"), col("day_b"),
        col("exact_a"), col("exact_b"), col("exact_overlap"),
        (abs(col("est_overlap") - col("exact_overlap")) <=
          (col("exact_a") + col("exact_b") - col("exact_overlap")) * lit(0.05))
          .as("within_tol"))
      .orderBy(col("day_a"))

  /** The raw theta estimator (spec target: KpiQueriesSpec asserts
    * exactness below sketch capacity against driver-side sets).
    * lgNomEntries = 10 ⇒ k = 1024 retained hashes. */
  private[graft] def kmvOverlapRaw(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(theta_sketch_agg(col("user_id"), 10).as("sk"))
    val a = daily.select(col("dt").as("day_a"), col("sk").as("a_sk"))
    val b = daily.select(col("dt").as("day_b"), col("sk").as("b_sk"))
    a.join(b, to_date(col("day_b")) === date_add(to_date(col("day_a")), 1))
      .select(col("day_a"), col("day_b"),
        theta_sketch_estimate(col("a_sk")).as("n_a"),
        theta_sketch_estimate(col("b_sk")).as("n_b"),
        theta_sketch_estimate(theta_intersection(col("a_sk"), col("b_sk")))
          .as("est_overlap"))
      .orderBy(col("day_a"))
  }

  /** Sketch-table distinct maintenance — the incremental-rollup half
    * of the HLL family (reference analog: the daily KPI recompute at
    * daily_kpis.py:109-140 generalized to mergeable summaries). Level
    * 1 builds one 4 KiB sketch per (day, event_type) — at 100 TB this
    * is the per-partition sketch table a nightly job appends to.
    * Level 2 answers "distinct users per event_type over the whole
    * range" by register-max-folding the |days| stored sketches —
    * O(days × 4 KiB), never rescanning raw events. The fold's
    * estimate is NOT bit-identical to a direct sketch over the raw
    * rows (sf0.1, one event type: 1488 folded, 1494 direct, 1500
    * exact); what holds is that it does not depend on how the rows
    * were split into stored sketches (KpiQueriesSpec). Accuracy-gated
    * oracle (r8): the exact per-type distinct rides the same output
    * row so DuckDB can pin (event_type, days, exact_users) by hash
    * while the folded estimate is gated by the `within_5pct`
    * CLAIM — a false claim hash-mismatches the oracle's TRUE and also
    * trips nothing silently (deterministic sketches: per-fixture the
    * bit is fixed, not flaky). The exact side exists only to make the
    * claim checkable; the 100 TB serving path is the sketch fold. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    val folded = daily
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    val exact = load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    folded.join(exact, Seq("event_type"))
      .select(col("event_type"), col("days"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** Count-Min sketch-table rollup — the frequency analogue of
    * [[sketchRollup]]: per-day `cms_sketch` rows fold via `cms_union`
    * into one corpus sketch, then the distinct event types probe it
    * with `cms_estimate`. The raw stream is touched exactly once (the
    * per-day build); every later frequency question answers from
    * |days| fixed-size binaries. CMS never undercounts and overcounts
    * only on cell collisions — at width 2048 over a 5-key vocabulary
    * the estimates are collision-free, so the gate compares EXACT
    * counts (deterministic: seeds are fixed). The probe list is the
    * vocab-sized distinct, the merged sketch broadcasts as one row. */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        lower(coalesce(col("event_type"), lit(""))).as("et"))
    val daily = ev.groupBy(col("dt")).agg(F.cmsSketch(col("et"), 4, 2048).as("sk"))
    val merged = daily.agg(F.cmsUnion(col("sk"), 4, 2048).as("sk"))
    ev.select(col("et")).distinct()
      .crossJoin(broadcast(merged))
      .select(col("et"), F.cmsEstimate(col("sk"), col("et")).as("est_n"))
      .orderBy(col("et"))
  }

  /** Right-to-be-forgotten cascade with INCREMENTAL KPI maintenance —
    * the GDPR-erasure shape a production clickstream pipeline needs:
    * given a deletion-list table (here every user_id ≡ 0 mod 37),
    * recompute the daily KPI table for ONLY the days a deleted user
    * touched, with the deleted users anti-joined out.
    *
    * Plan: the deletion list broadcasts — the honest assumption being
    * that erasure REQUESTS arrive in bounded batches (a day's worth of
    * regulatory requests, not a census); if a backlog ever exceeded
    * broadcast size, drop the hints and the same plan degrades
    * gracefully to shuffle semi/anti joins. `affected` = the semi-join
    * day set (calendar-bounded); the recompute scans only events in
    * those days (at 100 TB with date-partitioned storage this is
    * partition PRUNING — untouched days' files are never read) and
    * drops the deleted users with an ANTI join. Output = the
    * replacement rows for the affected days; unaffected days keep
    * their existing KPI rows untouched. Erasure cost scales with the
    * deleted users' footprint, not the corpus. */
  def forgetUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("user_id"), col("value"))
    val dels = ev.where(pmod(col("user_id"), lit(37L)) === 0L)
      .select(col("user_id")).distinct()
    val affected = ev.join(broadcast(dels), Seq("user_id"), "left_semi")
      .select(col("dt")).distinct()
    ev.join(broadcast(affected), Seq("dt"))
      .join(broadcast(dels), Seq("user_id"), "left_anti")
      .groupBy(col("dt"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        F.roundBin(sum(coalesce(col("value"), lit(0.0))), 2).as("revenue"))
      .orderBy(col("dt"))
  }
}
