package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Second-wave product-analytics + training-pipeline operators — the
  * queries the reference's daily-KPI job (reference:
  * airflow/dags/daily_kpis.py:109-140) grows into once the business
  * asks "what do users DO in a session", "how did this dimension
  * change over time", and "how do I split/serve/link this corpus".
  *
  * All shapes here follow the house rules: algebraic aggregates with
  * map-side partials, window families sharing one exchange, joins
  * only at aggregate grain (day / hour / dimension) where the build
  * side is broadcastable by construction, and deterministic
  * tie-breaks everywhere an ORDER BY feeds a LIMIT or a window.
  */
object AnalyticsExtras {
  import graft.Tables.load

  /** Top session paths — the "common user journeys" query. Sessionize
    * at a 30-min gap (same strict >1800 s convention as
    * [[KpiQueries.sessionize]]), keep each session's first 8 events,
    * and count sessions per ordered event-type path.
    *
    * Shape: ONE window pass over events (lag / running-sum session id /
    * row_number / running-max session start all share the
    * (user_id)(ts, event_id) sort — Catalyst collapses them onto one
    * Exchange+Sort), then a per-session agg whose state is bounded at
    * 8 structs BY CONSTRUCTION (the rn_sess <= 8 filter runs before
    * collect_list, so no session can blow the agg buffer no matter how
    * long a bot session is), then a tiny path-grain count. At 100 TB
    * the only data-sized stages are the first sort and the bounded
    * session agg; the path rollup is vocabulary-grain. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        lower(coalesce(col("event_type"), lit(""))).as("et"))
    val lagTs = lag(col("ts"), 1).over(w)
    val sessions = ev
      .withColumn("new_sess",
        when(lagTs.isNull
          .or(col("ts").cast("long") - lagTs.cast("long") > 1800), 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(w))
      .withColumn("rn_user", row_number().over(w))
      // running max of rn at session starts = this session's first row
      // number; same partition+order, so no extra exchange or sort
      .withColumn("sess_start",
        max(when(col("new_sess") === 1, col("rn_user"))).over(w))
      .withColumn("rn_sess", col("rn_user") - col("sess_start") + 1)
      .where(col("rn_sess") <= 8)
    sessions
      .groupBy(col("user_id"), col("sess_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn_sess").as("rn"), col("et")))),
          x => x.getField("et")),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** SCD Type-2 dimension history build — collapse a per-entity event
    * log (orders carrying `o_orderpriority`) into validity intervals:
    * one row per (customer, priority run) with valid_from / valid_to /
    * is_current. The standard warehouse "track attribute changes"
    * operator (dbt snapshots, Delta MERGE SCD2).
    *
    * Shape: one Exchange on o_custkey; the change-point lag, the
    * filter, and the valid_to lead all ride the same
    * (custkey)(date, orderkey) sort — the Filter preserves both the
    * partitioning and the ordering, so the second Window adds no
    * exchange and no sort. Change rows are a tiny fraction of input;
    * everything downstream is change-grain. Ties on the same date are
    * broken by o_orderkey in BOTH windows so interval bounds are
    * engine-stable. */
  def scd2Dims(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"), col("o_orderkey"))
    val o = load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        col("o_orderpriority").as("priority"))
    o.withColumn("prev", lag(col("priority"), 1).over(w))
      .where(col("prev").isNull.or(col("prev") =!= col("priority")))
      .withColumn("vt", lead(col("od"), 1).over(w))
      .select(col("o_custkey"), col("priority"),
        date_format(col("od"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("vt"), "yyyy-MM-dd").as("valid_to"),
        col("vt").isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("valid_from"), col("priority"))
  }

  /** Point-in-time SCD2 lookup — the temporal-correctness join every
    * feature store / training pipeline needs: for each lineitem
    * shipment, the customer-priority VERSION that was valid on its
    * ship date (valid_from <= d < valid_to, open-ended current rows),
    * rolled up to shipments per priority version state. Joining the
    * CURRENT dimension instead would leak future attribute values
    * into past training rows — the classic label-leakage bug.
    *
    * Shape: facts reach customer grain through the usual orderkey
    * broadcast/shuffle equi join; the SCD2 probe is an equi join on
    * custkey with the interval predicate as a cheap residual — never
    * an inequality-only join. Version history is change-grain (a tiny
    * fraction of facts) so it broadcasts; at 100 TB the same plan
    * shuffle-joins on custkey. Matches [[scd2Dims]]'s tie/boundary
    * conventions by construction (same CTE in the oracle). */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
    val ord = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val dims = scd2Dims(spark, dir)
      .select(col("o_custkey").as("d_custkey"), col("priority"),
        col("valid_from").cast("date").as("vf"),
        col("valid_to").cast("date").as("vt"), col("is_current"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims),
        col("o_custkey") === col("d_custkey") &&
          col("sd") >= col("vf") &&
          (col("vt").isNull || col("sd") < col("vt")))
      .groupBy(col("priority"), col("is_current"))
      .agg(count(lit(1)).as("n_shipments"))
      .orderBy(col("priority"), col("is_current"))
  }

  /** Trailing 7-day distinct users per day (the rolling-MAU/WAU
    * family). Exact, via day-grain pre-aggregation: distinct
    * (day, user) pairs first (the only data-sized stage — one
    * shuffle), then a range join of that small set against the ~|days|
    * day grid and a distinct count per day. The ×7 expansion happens
    * at user-day grain, NOT event grain, so 100 TB of events reduces
    * to |users|×|days| before any windowing; past that scale the same
    * query folds the per-day `hll_sketch_agg` table
    * ([[KpiQueries.sketchRollup]]) 7 sketches per day instead. */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ud = load(spark, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
    val days = ud.select(col("d").as("day")).distinct()
    ud.join(broadcast(days),
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("users_7d"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("users_7d"))
      .orderBy(col("d"))
  }

  /** The 100 TB path of [[slidingDistinct]], executed (r8): trailing
    * 7-day distinct from the stored per-day `hll_sketch_agg` table — one
    * 4 KiB sketch per day crosses the window, so the ×7 expansion
    * happens at SKETCH grain (|days|×7 rows of binaries), never
    * user-day grain, and the raw events are touched exactly once (the
    * per-day sketch build a nightly job already does). Accuracy gate:
    * the exact windowed distinct ([[slidingDistinct]]'s formulation)
    * rides the row hash-pinned; the folded estimate is gated by
    * within_5pct (lgConfigK 14 ⇒ σ ≈ 0.8%, ~6σ; deterministic per
    * fixture). */
  def slidingDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    val days = daily.select(col("d").as("day"))
    val folded = daily.join(broadcast(days),
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_7d"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("approx_7d"))
    slidingDistinct(spark, dir).join(folded, Seq("d"))
      .select(col("d"), col("users_7d"),
        (abs(col("approx_7d") - col("users_7d")) <=
          col("users_7d") * lit(0.05)).as("within_5pct"))
      .orderBy(col("d"))
  }

  /** Deterministic train/val/test corpus split (~80/10/10) — the
    * reproducible-split operator every training pipeline needs: the
    * assignment is a pure function of doc_id (first two hex chars of
    * md5 of the decimal id string, 256 buckets), so it is stable
    * across runs, engines, partitionings and re-shards, and a later
    * incremental batch lands each new doc in the same split forever.
    * Map-only + a 3-row rollup; no shuffle of data, ever. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    load(spark, dir, "documents")
      .select(
        when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test").as("split"),
        col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  /** Blocked fuzzy record-linkage self-join — near-duplicate product
    * names by edit distance. The classic entity-resolution shape:
    * equi-join on cheap blocking keys (p_type, p_size) so candidate
    * pairs are block-local (never all-pairs), then the expensive
    * `levenshtein` only on candidates, keeping pairs at distance <= 4.
    * Spark executes the blocking as a plain equi-join (broadcast or
    * sort-merge as size dictates) with the distance as a join filter;
    * pair count is sum(|block|²), governed by the blocking key choice
    * — the same knob MinHash-LSH banding turns
    * ([[TextQueries]] q_minhash_dedup) when names become documents. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = load(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"))
    // round-robin the probe side across the session's full width: the
    // fixture table is one small parquet file = ONE scan partition, so
    // without this every candidate-pair distance ran on a single core
    // (measured 3.1 s -> 0.5 s at sf0.1). At production scale the scan
    // arrives in many partitions and this exchange is ~free (20k-row
    // RoundRobinPartitioning); the broadcast probe parallelizes either
    // way. Explicit numPartitions: AQE (parallelismFirst=false) would
    // coalesce a column-only repartition of ~1 MB right back to one
    // partition; a user-pinned width is exempt from coalescing.
    val a = p.repartition(spark.sparkContext.defaultParallelism, col("p_partkey"))
      .select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
        col("p_type").as("a_type"), col("p_size").as("a_size"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
      col("p_type").as("b_type"), col("p_size").as("b_size"))
    a.join(b,
        col("a_type") === col("b_type") && col("a_size") === col("b_size")
          && col("a_key") < col("b_key")
          // lossless prefilter: levenshtein(a,b) >= |len(a) - len(b)|,
          // so a length band > 4 can never reach dist <= 4 — the cheap
          // comparison runs inside the join before any DP matrix is
          // built (cut the slowest bench query 3.8 s -> ~1 s at sf0.1)
          && abs(length(col("a_name")) - length(col("b_name"))) <= 4)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .where(col("dist") <= 4)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** VARIANT shredding of the JSON `props` column — Spark 4's
    * semi-structured fast path: `parse_json` converts the string to
    * the binary VARIANT encoding ONCE, then `variant_get` does typed
    * path extraction on the binary form (no per-path string re-parse,
    * unlike chained `get_json_object`, and the parse + extract both
    * stay inside whole-stage codegen). Same answer as the
    * string-path [[KpiQueries.eventsPropsJson]]; this is the plumbing
    * a props column with many extracted paths wants at scale.
    * `try_parse_json` not `parse_json`: a malformed props row yields
    * NULL, not a task failure. */
  def variantShred(spark: SparkSession, dir: String): DataFrame = {
    val k = variant_get(try_parse_json(col("props")), "$.k", "long").as("k")
    load(spark, dir, "events")
      .select(lower(coalesce(col("event_type"), lit(""))).as("et"), k)
      .groupBy(col("et"))
      .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("et"))
  }

  /** Exponentially-weighted trailing smoothing of the hourly revenue
    * series (EWMA with alpha-decay 0.6 over a 12-hour horizon,
    * normalized) — the smoothing-for-alerting operator next to the
    * z-score hours of [[KpiQueries.anomalyHours]]. True infinite-tail
    * EWMA is a sequential recurrence (hostile to any parallel engine);
    * the windowed form is exact for the declared horizon and is pure
    * algebra: aggregate to hour grain first (the only data-sized
    * stage), then a broadcast range self-join of the TINY hourly
    * series against itself (<= 12 partners per row) with pow-decay
    * weights. At 100 TB the hourly aggregate is still thousands of
    * rows; the smoothing cost never grows with raw data. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val h = load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(coalesce(col("value"), lit(0.0))).as("rev"))
      .withColumn("idx", (col("hr").cast("long") / lit(3600)).cast("long"))
    val b = h.select(col("idx").as("b_idx"), col("rev").as("b_rev"))
    val wgt = pow(lit(0.6), (col("idx") - col("b_idx")).cast("double"))
    h.join(broadcast(b), col("b_idx").between(col("idx") - 11, col("idx")))
      .groupBy(col("hr"), col("rev"))
      .agg((sum(wgt * col("b_rev")) / sum(wgt)).as("ewma"))
      .select(date_format(col("hr"), "yyyy-MM-dd HH:00").as("hour"),
        F.roundBin(col("rev"), 2).as("rev"),
        F.roundBin(col("ewma"), 2).as("rev_ewma"))
      .orderBy(col("hour"))
  }

  /** Session concurrency curve — active sessions per hour (the "peak
    * concurrent users" capacity-planning query). Composes the
    * sessionizer (same one-exchange window family and strict >1800 s
    * gap as [[topPaths]]) with an interval explode: each session
    * expands to the hours its [start, end] span touches
    * (`sequence` + `explode` — map-side, bounded by session duration,
    * which the gap bound itself keeps small), then a tiny hour-grain
    * count. A session counts in every hour it overlaps, giving the
    * step-function concurrency integral at hour resolution. At 100 TB
    * the explode happens at SESSION grain (≪ event grain) and the
    * rollup is |hours|-sized. */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
    val lagTs = lag(col("ts"), 1).over(w)
    val bounds = ev
      .withColumn("new_sess",
        when(lagTs.isNull
          .or(col("ts").cast("long") - lagTs.cast("long") > 1800), 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(w))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    bounds
      .select(explode(sequence(
        date_trunc("hour", col("st")), date_trunc("hour", col("en")),
        expr("interval 1 hour"))).as("hr"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n_active_sessions"))
      .select(date_format(col("hr"), "yyyy-MM-dd HH:00").as("hour"),
        col("n_active_sessions"))
      .orderBy(col("hour"))
  }

  /** Deterministic WEIGHTED sample — k docs per source with inclusion
    * probability ∝ n_chars (A-Res weighted reservoir, log form:
    * key = ln(u)/w with u a pure hash function of doc_id, take the
    * top-k keys per stratum). The weighted companion to the uniform
    * [[TextQueries]] q_stratified_sample / q_sample_topk family —
    * "sample long documents more often" is how mixture weighting is
    * actually applied per-record. Deterministic end to end (u comes
    * from md5, not rand()), so the sample is reproducible across
    * runs, engines and partitionings, and incremental batches draw
    * consistently. Map-only scoring + one per-stratum top-k window at
    * k rows of state; at 100 TB swap the window for the bounded
    * TopKAgg exactly as q_sample_topk does. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // first 8 md5 hex chars -> uniform u in (0,1], engine-identical
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") + 1).cast("double") / lit(4294967296.0)
    val key = log(u) / greatest(col("n_chars"), lit(1)).cast("double")
    val w = Window.partitionBy(col("source")).orderBy(col("key").desc, col("doc_id"))
    load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"), key.as("key"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("doc_id"))
  }
}
