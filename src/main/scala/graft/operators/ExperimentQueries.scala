package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Experimentation + distribution-monitoring operators — the two
  * checks a production clickstream pipeline bolts on once KPIs exist
  * (the reference stops at daily KPIs, reference:
  * airflow/dags/daily_kpis.py:109-140; these are the next jobs the
  * same team schedules):
  *
  *  - '''Drift''': is today's event-mix still the distribution the
  *    models were trained on? (Population Stability Index per day vs
  *    a pinned reference day.)
  *  - '''A/B integrity''': is the experiment's traffic split actually
  *    the designed 50/50? (Deterministic hash assignment + the
  *    sample-ratio-mismatch chi-square gate every experimentation
  *    platform runs before believing a lift number.)
  *  - '''Association''': is a candidate feature pair independent?
  *    (Mutual information + chi-square + Cramer's V.)
  *  - '''Sampling''': deterministic stratified and Bernoulli samples
  *    whose membership is a pure function of the row key.
  *
  * Both shapes are 100 TB-safe by construction: the only data-sized
  * stage in each is ONE map-side-combinable aggregation down to a
  * tiny grain (day x event-type, or user), and everything after runs
  * on that aggregate with broadcast-only joins.
  */
object ExperimentQueries {
  import graft.Tables.load

  /** Per-day Population Stability Index of the event-type mix vs the
    * earliest day in the data (the "reference" window).
    *
    * PSI(day) = sum_t (p_t - q_t) * ln(p_t / q_t) over smoothed
    * shares p_t = (cnt_t + 0.5) / (n_day + 0.5 * K) (Laplace 0.5,
    * K = global type-vocabulary size) so a type absent from one day
    * stays finite instead of blowing up ln(0). PSI >= 0 always, = 0
    * for the reference day itself; > 0.1 is the classic "investigate"
    * threshold.
    *
    * Shape: one groupBy(day, type) count over events — the ONLY stage
    * that touches data, with map-side partials — then a
    * `localCheckpoint` pins the tiny day x type grid (days * K rows)
    * so the five downstream consumers (day totals, type vocabulary,
    * K, the zero-fill cross join, the reference-day slice) reuse the
    * materialized aggregate instead of re-scanning events. All joins
    * after the checkpoint are broadcastable by construction. */
  def driftPsi(spark: SparkSession, dir: String): DataFrame =
    psiOfCounts(load(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("event_type"))
      .agg(count(lit(1)).as("cnt")))

  /** PSI body over an already-aggregated (dt, event_type, cnt) count
    * table — shared by the batch query above and the streaming
    * monitor ([[PipelineQueries.streamDriftPsi]]), which maintains
    * the count table incrementally and recomputes PSI from the
    * stored grain instead of raw history. */
  private[graft] def psiOfCounts(counts0: DataFrame): DataFrame = {
    // Eager: a lazy checkpoint is materialized by whichever consumer
    // job runs first, and the others, already running the original
    // lineage, then report task metrics for accumulators of a plan that
    // can be garbage collected — lost metrics and a DAGScheduler ERROR
    // per task (CheckpointMetricsSpec). The grid is tiny, so the extra
    // job is cheap. Same for the other count grids below.
    val counts = counts0.localCheckpoint()
    val types = counts.select(col("event_type")).distinct()
    val kDf = types.agg(count(lit(1)).cast("double").as("k"))
    val days = counts.groupBy(col("dt")).agg(sum(col("cnt")).as("n_day"))
    // zero-fill: every (day, type) cell exists so smoothing sees the
    // absent types (share > 0 via the +0.5 prior)
    val grid = days.crossJoin(broadcast(types))
      .join(counts, Seq("dt", "event_type"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(kDf))
      .withColumn("share",
        (col("cnt") + lit(0.5)) /
          (col("n_day").cast("double") + lit(0.5) * col("k")))
    val refDay = grid.agg(min(col("dt")).as("dt"))
    val ref = grid.join(broadcast(refDay), "dt")
      .select(col("event_type"), col("share").as("ref_share"))
    grid.join(broadcast(ref), Seq("event_type"))
      .groupBy(col("dt"))
      .agg(
        max(col("n_day")).as("n_events"),
        F.roundBin(sum((col("share") - col("ref_share")) *
          log(col("share") / col("ref_share"))), 6).as("psi"))
      .orderBy(col("dt"))
  }

  /** Critical value of chi-square with 1 dof at alpha = 0.05 — the
    * standard SRM gate. */
  val SrmChi2Crit = 3.841

  /** Two-sided normal critical value at alpha = 0.05. */
  val ZCrit = 1.96

  /** The experiment's user grain: per user, event count, converted
    * flag (any purchase), revenue, and the deterministic md5-bucket
    * variant — shared by [[abSrm]] and [[abLift]]. One shuffle on
    * user_id with map-side partials; the variant is a pure map-side
    * function of the key. */
  private def variantUsers(spark: SparkSession, dir: String): DataFrame = {
    val isPurchase = lower(coalesce(col("event_type"), lit(""))) === "purchase"
    load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(when(isPurchase, 1L).otherwise(0L)).as("converted"),
        sum(when(isPurchase, coalesce(col("value"), lit(0.0)))
          .otherwise(0.0)).as("revenue"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 2) < "80", "A")
          .otherwise("B"))
  }

  /** The lift readout that follows a clean SRM gate, as a SWITCHBACK
    * experiment: the randomization unit is (user, day) — the
    * standard design when a user-level split has no variance to
    * measure (this fixture's user pool is dense enough that EVERY
    * user purchases eventually, so user-grain conversion is
    * degenerately 100%; per-exposure-day conversion is ~1/3 and the
    * z-test is real). Per-variant unit counts and same-day-purchase
    * conversion rates, absolute/relative lift of A over B, and the
    * pooled two-proportion z-test with its alpha = .05 verdict.
    * Degenerate guards are explicit CASE branches (p in {0,1} means
    * zero pooled variance → z is NULL, significant false; Spark 4
    * runs ANSI mode, where an unguarded 0/0 double division is a
    * runtime error, not a NaN).
    *
    * Shape: one shuffle at the (user, day) unit grain with map-side
    * partials, then one conditional aggregation straight to a single
    * row — no second pass, no driver math. Integer count inputs keep
    * every derived double engine-exact. */
  def abLift(spark: SparkSession, dir: String): DataFrame = {
    val isPurchase = lower(coalesce(col("event_type"), lit(""))) === "purchase"
    val units = load(spark, dir, "events")
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("event_type"))
      .groupBy(col("user_id"), col("dt"))
      .agg(max(when(isPurchase, 1L).otherwise(0L)).as("converted"))
      .withColumn("variant",
        when(substring(md5(concat(col("user_id").cast("string"), lit(":"),
          col("dt"))), 1, 2) < "80", "A").otherwise("B"))
    val agg = units.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "A", col("converted")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("variant") === "B", col("converted")).otherwise(0L))
        .as("conv_b"))
    val ra = col("conv_a") / col("n_a").cast("double")
    val rb = col("conv_b") / col("n_b").cast("double")
    val p = (col("conv_a") + col("conv_b")) /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(se > 0, (ra - rb) / se)
    agg.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      F.roundBin(ra, 6).as("rate_a"),
      F.roundBin(rb, 6).as("rate_b"),
      F.roundBin(ra - rb, 6).as("lift_abs"),
      when(rb > 0, F.roundBin((ra - rb) / rb, 6)).as("lift_rel"),
      F.roundBin(z, 6).as("z"),
      coalesce(abs(z) >= lit(ZCrit), lit(false)).as("significant"))
  }

  /** Deterministic 50/50 A/B assignment + sample-ratio-mismatch gate.
    *
    * Assignment is a pure function of user_id (first two hex chars of
    * md5 of the decimal id, '80' boundary = 128/256 buckets), the same
    * engine-portable recipe as [[AnalyticsExtras.trainSplit]]: stable
    * across runs, engines and re-shards, so a user never flips
    * variant mid-experiment. Per variant: users, events, converters
    * (any purchase), revenue, conversion rate — plus the SRM
    * chi-square over observed vs expected (total/2) user counts and
    * its alpha=0.05 verdict. srm_detected=true means the traffic
    * split itself is broken and every downstream lift number is
    * invalid — the check runs BEFORE any metric is read.
    *
    * Shape: one user-grain aggregation (the natural experiment grain;
    * map-side combinable, one shuffle on user_id), then a 2-row
    * variant rollup; the chi-square runs as a window over that 2-row
    * frame — no driver-side math, no second pass over data. */
  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    val byVariant = variantUsers(spark, dir).groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        sum(col("converted")).as("n_converted"),
        F.roundBin(sum(col("revenue")), 2).as("revenue"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byVariant
      // two window passes over the SAME 2-row frame (one exchange;
      // windows can't nest, so expected-count materializes first)
      .withColumn("exp_users", sum(col("n_users")).over(w).cast("double") / 2.0)
      .withColumn("chi2",
        sum(pow(col("n_users").cast("double") - col("exp_users"), 2) /
          col("exp_users")).over(w))
      .select(
        col("variant"), col("n_users"), col("n_events"), col("n_converted"),
        F.roundBin(col("n_converted").cast("double") / col("n_users"), 4)
          .as("conv_rate"),
        col("revenue"),
        F.roundBin(col("chi2"), 4).as("srm_chi2"),
        // NOT named *_ok: graft.Verify treats *_ok columns as engine
        // self-check claims and fails the dump on false, but a
        // detected mismatch is a legitimate DATA verdict (the tiny
        // sf0.001 fixture genuinely trips it: 3 vs 12 users, chi2=5.4)
        (col("chi2") >= lit(SrmChi2Crit)).as("srm_detected"))
      .orderBy(col("variant"))
  }

  /** Boundary between the CUPED pre-period (covariate window) and the
    * experiment window — the fixture spans 2024-01-01..30, split in
    * half. */
  val CupedSplit = "2024-01-16"

  /** CUPED variance reduction for the user-level experiment readout:
    * adjust each user's experiment-window activity Y by their
    * pre-period activity X — Y' = Y - theta*(X - mean(X)) with the
    * pooled theta = cov(X,Y)/var(X) — and report per-variant means
    * and variances of both the raw and adjusted metric plus the
    * variance-reduction fraction. Because a user's past activity
    * strongly predicts their future activity, the adjusted metric
    * keeps the same expected lift at a fraction of the variance —
    * the standard sensitivity boost every experimentation platform
    * applies before the t/z read.
    *
    * Everything derives from the six per-variant sums
    * (n, Sx, Sy, Sxx, Syy, Sxy): var(Y') expands in closed form to
    * var(Y) - 2*theta*cov(X,Y) + theta^2*var(X), so NO per-user
    * adjusted value is ever materialized or summed — which also
    * makes the doubles engine-exact (integer-count sums are exact;
    * a per-user float sum would be order-dependent). Population
    * (1/n) variance convention throughout.
    *
    * Shape: one user-grain shuffle (map-side combinable conditional
    * sums), a |variants|-row rollup, global sums as a window over
    * that 2-row frame — data is touched once. */
  def cupedLift(spark: SparkSession, dir: String): DataFrame = {
    val pre = to_date(col("ts")) < lit(CupedSplit)
    val users = load(spark, dir, "events")
      .select(col("user_id"), col("ts"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("x"),
        sum(when(pre, 0L).otherwise(1L)).as("y"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 2) < "80", "A")
          .otherwise("B"))
    val s = users.groupBy(col("variant")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = s
      .withColumn("gn", sum(col("n")).over(w))
      .withColumn("gsx", sum(col("sx")).over(w))
      .withColumn("gsy", sum(col("sy")).over(w))
      .withColumn("gsxx", sum(col("sxx")).over(w))
      .withColumn("gsxy", sum(col("sxy")).over(w))
      .withColumn("gvarx",
        col("gsxx") / col("gn") - (col("gsx") / col("gn")) * (col("gsx") / col("gn")))
      .withColumn("gcov",
        col("gsxy") / col("gn") - (col("gsx") / col("gn")) * (col("gsy") / col("gn")))
      .withColumn("theta",
        when(col("gvarx") > 0, col("gcov") / col("gvarx")).otherwise(0.0))
      .withColumn("mean_y", col("sy") / col("n"))
      .withColumn("var_y",
        col("syy") / col("n") - col("mean_y") * col("mean_y"))
      .withColumn("var_x",
        col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
      .withColumn("cov_xy",
        col("sxy") / col("n") - (col("sx") / col("n")) * col("mean_y"))
      .withColumn("mean_y_cuped",
        col("mean_y") - col("theta") * (col("sx") / col("n") - col("gsx") / col("gn")))
      .withColumn("var_y_cuped",
        col("var_y") - lit(2.0) * col("theta") * col("cov_xy") +
          col("theta") * col("theta") * col("var_x"))
    g.select(
      col("variant"), col("n").cast("long").as("n_users"),
      F.roundBin(col("theta"), 6).as("theta"),
      F.roundBin(col("mean_y"), 6).as("mean_y"),
      F.roundBin(col("var_y"), 6).as("var_y"),
      F.roundBin(col("mean_y_cuped"), 6).as("mean_y_cuped"),
      F.roundBin(col("var_y_cuped"), 6).as("var_y_cuped"),
      when(col("var_y") > 0,
        F.roundBin(lit(1.0) - col("var_y_cuped") / col("var_y"), 6))
        .as("var_reduction"))
      .orderBy(col("variant"))
  }

  /** Feature-association report between two categorical columns —
    * here event_type x hour-of-day, the "is the event mix
    * time-dependent?" question a feature-selection pass asks of every
    * candidate pair. One row: mutual information (nats), Pearson
    * chi-square over the zero-filled contingency grid (absent cells
    * contribute their expectation), degrees of freedom, and Cramer's
    * V (chi2 normalized to [0,1] by n * min(r-1, c-1)) so tables of
    * different shape are comparable.
    *
    * Shape: identical scaling law to [[driftPsi]] — ONE
    * map-side-combinable count down to the r x c cell grain is the
    * only stage that touches data; marginals, the zero-fill cross
    * join, and both statistics run on the checkpoint-pinned cell
    * table (r*c rows) with broadcast-only joins. */
  def featureAssoc(spark: SparkSession, dir: String): DataFrame = {
    val counts = load(spark, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val nDf = counts.agg(sum(col("cnt")).cast("double").as("n"))
    val mx = counts.groupBy(col("event_type"))
      .agg(sum(col("cnt")).cast("double").as("nx"))
    val my = counts.groupBy(col("hr"))
      .agg(sum(col("cnt")).cast("double").as("ny"))
    val grid = mx.crossJoin(broadcast(my))
      .join(counts, Seq("event_type", "hr"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(nDf))
    val e = col("nx") * col("ny") / col("n")
    grid.agg(
      max(col("n")).cast("long").as("n"),
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(col("hr")).as("n_hours"),
      // MI over observed cells only (p_xy = 0 cells contribute 0)
      sum(when(col("cnt") > 0,
        (col("cnt") / col("n")) *
          log(col("cnt") * col("n") / (col("nx") * col("ny"))))
        .otherwise(0.0)).as("mi_raw"),
      // chi2 over ALL cells: an empty cell still contributes its
      // expectation ((0-e)^2/e = e)
      sum(pow(col("cnt") - e, 2) / e).as("chi2_raw"))
    .select(
      col("n"), col("n_types"), col("n_hours"),
      ((col("n_types") - 1) * (col("n_hours") - 1)).as("dof"),
      F.roundBin(col("mi_raw"), 6).as("mi"),
      F.roundBin(col("chi2_raw"), 6).as("chi2"),
      F.roundBin(sqrt(col("chi2_raw") /
        (col("n") * least(col("n_types") - 1, col("n_hours") - 1))), 6)
        .as("cramers_v"))
  }

  /** ECDF grid resolution for [[ksDrift]]. */
  val KsBins = 64

  /** Per-day continuous-distribution drift — the numeric complement
    * to [[driftPsi]]'s categorical PSI: a binned two-sample
    * Kolmogorov-Smirnov statistic of the `value` column vs the
    * pinned first-day reference. Values are bucketed into [[KsBins]]
    * equal-width bins over the global [min, max] (so both samples
    * share one grid and the ECDF difference is exact GIVEN the
    * binning — binning can only under-state the true KS, never
    * invent drift); drift_detected applies the classic large-sample
    * critical value 1.36 * sqrt((n+m)/(n*m)) at alpha = .05.
    *
    * Shape: one pass computes the global range, one
    * map-side-combinable groupBy(day, bin) count is the only other
    * data-sized stage; the cumulative ECDF window and the
    * reference-day join run on the checkpoint-pinned day x bin grid
    * (|days| * 64 rows, all joins broadcast). The integer bin counts
    * make the ECDF doubles bit-identical across engines — no
    * summation-order ambiguity survives the binning. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("value"))
      .where(col("value").isNotNull)
    val rng = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = ev.crossJoin(broadcast(rng))
      .withColumn("bin",
        when(col("hi") > col("lo"),
          least(lit(KsBins - 1L), greatest(lit(0L),
            floor((col("value") - col("lo")) /
              ((col("hi") - col("lo")) / KsBins)))))
          .otherwise(0L))
      .groupBy(col("dt"), col("bin")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val days = binned.groupBy(col("dt")).agg(sum(col("cnt")).as("n_day"))
    val bins = spark.range(KsBins).select(col("id").as("bin"))
    val wc = Window.partitionBy(col("dt")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = days.crossJoin(broadcast(bins))
      .join(binned, Seq("dt", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cdf",
        sum(col("cnt")).over(wc).cast("double") / col("n_day"))
    val refDt = days.agg(min(col("dt")).as("dt"))
    val ref = cdf.join(broadcast(refDt), "dt")
      .select(col("bin"), col("cdf").as("ref_cdf"), col("n_day").as("n_ref"))
    val crit = lit(1.36) * sqrt((col("n") + col("m")) /
      (col("n") * col("m")).cast("double"))
    cdf.join(broadcast(ref), Seq("bin"))
      .groupBy(col("dt"))
      .agg(
        max(col("n_day")).as("n"),
        max(col("n_ref")).as("m"),
        max(abs(col("cdf") - col("ref_cdf"))).as("ks_raw"))
      .select(
        col("dt"), col("n"),
        F.roundBin(col("ks_raw"), 6).as("ks"),
        F.roundBin(crit, 6).as("ks_crit"),
        (col("ks_raw") > crit).as("drift_detected"))
      .orderBy(col("dt"))
  }

  /** Exact deterministic stratified sample: the ceil(f * n_g)
    * md5-smallest rows of each event_type stratum (f = 10%). The
    * rank order is a pure function of event_id, so the sample is
    * identical across runs, engines, and re-shards — the property a
    * train/eval split pipeline needs from its sampler.
    *
    * Shape: one exchange on the stratum key feeds both windows
    * (rank and stratum size). HONEST SCALE LIMIT: with only
    * |strata| partitions, each window task sorts a whole stratum —
    * exact per-stratum rank is inherently a per-stratum selection.
    * At 100 TB use [[bernoulliSample]] (scan-only, no shuffle) and
    * accept the binomial count wobble, or tighten it exact-k by
    * pre-filtering on an approx_percentile(hkey, f) threshold and
    * ranking only the ~k survivors. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val byStratum = Window.partitionBy(col("event_type"))
    load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("hkey", md5(col("event_id").cast("string")))
      .withColumn("rn",
        row_number().over(byStratum.orderBy(col("hkey"), col("event_id"))))
      .withColumn("n_g", count(lit(1)).over(byStratum))
      .where(col("rn") <= ceil(col("n_g") * lit(0.1)))
      .select(col("event_type"), col("rn").cast("long").as("sample_rank"),
        col("event_id"), col("user_id"), col("n_g").as("stratum_n"))
  }

  /** Deterministic Bernoulli(~10%) hash sample — the 100 TB sampling
    * path: keep a row iff the first 4 hex chars of md5(event_id)
    * fall below 0x1999 (6553/65536 = 9.999%). Map-only, zero
    * shuffle, zero coordination; the same rows survive in any
    * engine, at any parallelism, under any re-shard. Sample size is
    * Binomial(n, f) — within O(sqrt(n)) of f*n, which is the
    * standard trade against [[stratifiedSample]]'s exact count. */
  def bernoulliSample(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .where(substring(md5(col("event_id").cast("string")), 1, 4) < "1999")
  }

  /** Weight-of-Evidence / Information-Value feature scoring (r9) —
    * the standard credit-scoring/feature-selection report: how well
    * does a binned feature (document length) separate a binary
    * outcome (is the doc English — the dominant-class proxy a
    * pretraining mixture would balance against)?
    *
    *   woe_b  = ln( ((pos_b + 0.5)/(pos + 2)) / ((neg_b + 0.5)/(neg + 2)) )
    *   iv     = Σ_b ( (pos_b + 0.5)/(pos + 2) − (neg_b + 0.5)/(neg + 2) ) · woe_b
    *
    * with Laplace 0.5 per cell (4 bins → +2 per margin) so an empty
    * bin stays finite — the same smoothing convention as
    * [[driftPsi]].
    *
    * Bins are FIXED published cut points (180/300/420 chars, the
    * fixture's approximate quartiles), not data-derived ntiles: at
    * 100 TB a global exact ntile is one data-sized single-partition
    * window sort, while fixed cuts make the whole query ONE
    * map-side-combinable aggregation to a 4-row grain — the
    * production feature-pipeline posture (cuts are derived offline
    * and versioned with the model). The per-bin margins ride a
    * broadcast 1-row total, the IV fold runs on 4 rows. */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val bin = when(col("n_chars") < 180, 1)
      .when(col("n_chars") < 300, 2)
      .when(col("n_chars") < 420, 3)
      .otherwise(4)
    val cells = load(spark, dir, "documents")
      .select(bin.as("bin"), (col("lang") === "en").as("is_en"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("is_en"), 1L).otherwise(0L)).as("n_neg"))
    val tot = cells.agg(sum(col("n_pos")).as("pos"), sum(col("n_neg")).as("neg"))
    val scored = cells.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_pos") + lit(0.5)) / (col("pos") + lit(2.0)))
      .withColumn("q", (col("n_neg") + lit(0.5)) / (col("neg") + lit(2.0)))
      .withColumn("woe", log(col("p") / col("q")))
    val iv = scored.agg(sum((col("p") - col("q")) * col("woe")).as("iv"))
    scored.crossJoin(broadcast(iv))
      .select(col("bin"), col("n_pos"), col("n_neg"),
        F.roundBin(col("woe"), 6).as("woe"),
        F.roundBin(col("iv"), 6).as("iv"))
      .orderBy(col("bin"))
  }
}
