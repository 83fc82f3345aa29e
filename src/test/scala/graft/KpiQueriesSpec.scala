package graft

import graft.operators.KpiQueries
import java.sql.Timestamp

/** Reference-parity KPI aggregates (SURVEY.md §2.3 A1–A8) checked
  * against a plain-Scala single-pass fold over the same rows — the same
  * shape as the reference's accumulator loop
  * (reference: airflow/dags/daily_kpis.py:109-140).
  */
class KpiQueriesSpec extends SparkSpec {

  private lazy val events: Seq[(Long, Timestamp, Long, String, Option[Double])] =
    Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .toSeq
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        Option(r.getString(3)).getOrElse(""), if (r.isNullAt(4)) None else Some(r.getDouble(4))))

  private val pageviewSet = Set("view", "pageview", "page_view")
  private val purchaseSet = Set("purchase", "order", "checkout")
  private val dayFmt = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f
  }

  test("kpiTotal matches a hand-rolled fold (daily_kpis.py:109-140 shape)") {
    val row = KpiQueries.kpiTotal(spark, sf).collect().head
    assert(row.getAs[Long]("total_events") === events.size)
    assert(row.getAs[Long]("unique_users") === events.map(_._3).distinct.size)
    assert(row.getAs[Long]("pageviews") ===
      events.count(e => pageviewSet(e._4.toLowerCase)))
    assert(row.getAs[Long]("purchases") ===
      events.count(e => purchaseSet(e._4.toLowerCase)))
    val expRevenue = events.filter(e => purchaseSet(e._4.toLowerCase))
      .map(_._5.getOrElse(0.0)).sum
    assert(math.abs(row.getAs[Double]("revenue_usd") - expRevenue) < 0.01)
  }

  test("kpiDaily partitions the totals: per-day counts sum to the whole") {
    val daily = KpiQueries.kpiDaily(spark, sf).collect()
    assert(daily.map(_.getAs[Long]("total_events")).sum === events.size)
    val expDays = events.map(e => dayFmt.format(e._2)).distinct.sorted
    assert(daily.map(_.getAs[String]("dt")).toSeq === expDays)
    // spot-check one day end-to-end
    val d0 = expDays.head
    val inDay = events.filter(e => dayFmt.format(e._2) == d0)
    val r0 = daily.find(_.getAs[String]("dt") == d0).get
    assert(r0.getAs[Long]("total_events") === inDay.size)
    assert(r0.getAs[Long]("unique_users") === inDay.map(_._3).distinct.size)
  }

  test("eventsHourly groups are a partition of all events") {
    val hourly = KpiQueries.eventsHourly(spark, sf).collect()
    assert(hourly.map(_.getAs[Long]("n_events")).sum === events.size)
    assert(hourly.forall(_.getAs[Long]("unique_users") > 0))
  }

  test("eventsRollup grand-total row equals total events") {
    val rows = KpiQueries.eventsRollup(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_events") === events.size)
  }

  test("sessionize: session counts bounded by event counts, nulls start sessions") {
    val rows = KpiQueries.sessionize(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val s = r.getAs[Long]("n_sessions")
      assert(s >= 1L && s <= n, s"user ${r.get(0)}: $s sessions > $n events")
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum === events.size)
  }

  test("approxDistinct within rtol of exact (HLL++ rsd=0.01 at tiny n)") {
    val rows = KpiQueries.approxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_5pct"),
        s"event_type ${r.get(0)}: approx distinct off by >5% of exact")
    }
  }

  test("approxDistinctFast (pure HLL partials) within 5% of exact per group") {
    import org.apache.spark.sql.functions._
    val exact = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val rows = KpiQueries.approxDistinctFast(spark, sf).collect()
    assert(rows.map(r => Option(r.getString(0))).toSet === exact.keySet)
    rows.foreach { r =>
      // exact side must be the true distinct, and the HLL claim holds
      assert(r.getAs[Long]("exact_users") == exact(Option(r.getString(0))))
      assert(r.getAs[Boolean]("within_5pct"),
        s"event_type ${r.get(0)}: HLL estimate drifted > 5% from exact")
    }
  }

  test("existsFresh is true on a fixture that has a max-ts event") {
    val rows = KpiQueries.existsFresh(spark, sf).collect()
    assert(rows.length === 1 && rows.head.getAs[Boolean]("fresh"))
  }

  test("resampleHourly: full 120-hour grid, zero-filled gaps, count-preserving") {
    import org.apache.spark.sql.functions.col
    val rows = KpiQueries.resampleHourly(spark, sf).collect()
    assert(rows.length === 120, s"grid must be exactly 5 days x 24 h, got ${rows.length}")
    assert(rows.exists(_.getAs[Long]("n_events") === 0L),
      "sf0.001 (~1.4 events/h) must leave empty hours — zero-fill path untested")
    val total = rows.map(_.getAs[Long]("n_events")).sum
    val exact = Tables.load(spark, sf, "events")
      .where(col("ts") < org.apache.spark.sql.functions.lit("2024-01-06").cast("timestamp"))
      .count()
    assert(total === exact, s"resample lost/invented events: $total vs $exact")
  }

  test("kmvOverlap: day-over-day intersections are EXACT below sketch capacity") {
    import org.apache.spark.sql.functions.{col, date_format}
    val days: Map[String, Set[Long]] = Tables.load(spark, sf, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .collect().toSeq.groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val rows = KpiQueries.kmvOverlapRaw(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (da, db) = (r.getString(0), r.getString(1))
      // fixture daily user sets are far below k=1024, so the sketch
      // holds the full hash sets and every number must be EXACT
      assert(r.getAs[Long]("n_a") === days(da).size.toLong, s"n_a($da)")
      assert(r.getAs[Long]("n_b") === days(db).size.toLong, s"n_b($db)")
      assert(r.getAs[Long]("est_overlap") === (days(da) & days(db)).size.toLong,
        s"overlap($da→$db)")
    }
  }

  // σ ≈ 1.04/√2^lgK for HLL (lgK 14: 0.8%, lgK 12: 1.6%) and ≈ 1/√k for
  // theta (k = 1024: 3.1%); each bound below is ~4σ on fixed data, so the
  // gates are deterministic. Theta is exact below k.
  private val sketchCardinalities = Seq(1000L, 60000L, 200000L)

  test("HLL sketch estimates stay within ~4 sigma of exact at lgConfigK 14 and 12") {
    import org.apache.spark.sql.functions._
    for (n <- sketchCardinalities) {
      val r = spark.range(n).agg(
        hll_sketch_estimate(hll_sketch_agg(col("id"), 14)),
        hll_sketch_estimate(hll_sketch_agg(col("id"), 12))).head()
      def err(i: Int) = math.abs(r.getLong(i) - n).toDouble / n
      assert(err(0) <= 0.03, s"n=$n lgK=14 est=${r.getLong(0)}")
      assert(err(1) <= 0.065, s"n=$n lgK=12 est=${r.getLong(1)}")
    }
  }

  test("theta sketch below k = 1024 is exact") {
    import org.apache.spark.sql.functions._
    for (n <- sketchCardinalities.filter(_ < 1024)) {
      val est = spark.range(n)
        .agg(theta_sketch_estimate(theta_sketch_agg(col("id"), 10))).head().getLong(0)
      assert(est === n, s"theta below k must be exact")
    }
  }

  test("theta sketch at k = 1024 stays within 4/sqrt(k) of exact") {
    import org.apache.spark.sql.functions._
    for (n <- sketchCardinalities.filter(_ >= 1024)) {
      val est = spark.range(n)
        .agg(theta_sketch_estimate(theta_sketch_agg(col("id"), 10))).head().getLong(0)
      assert(math.abs(est - n).toDouble / n <= 4.0 / math.sqrt(1024), s"n=$n theta est=$est")
    }
  }

  test("a folded HLL sketch's estimate does not depend on how its rows were split") {
    import org.apache.spark.sql.functions._
    // the stored-sketch contract behind q_sketch_rollup: the same rows
    // cut into 17 or 5 stored sketches fold to the same estimate (and
    // the same bytes). A fold need not equal one direct sketch of the
    // rows: that contract was dropped with graft's own HLL kernel.
    val df = spark.range(40000)
      .select(col("id"), (col("id") * 6361 % 9973).as("v"))
    def fold(groups: Int) = df.groupBy(col("id") % groups)
      .agg(hll_sketch_agg(col("v"), 12).as("sk"))
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("sk"), hll_sketch_estimate(col("sk"))).head()
    val (a, b) = (fold(17), fold(5))
    assert(a.getLong(1) === b.getLong(1), "folded estimate depends on the split")
    assert(java.util.Arrays.equals(a.getAs[Array[Byte]](0), b.getAs[Array[Byte]](0)),
      "folded sketch bytes depend on the split")
    assert(math.abs(a.getLong(1) - 9973L).toDouble / 9973 <= 0.05, s"est=${a.getLong(1)}")
  }

  test("userOverlap estimates track the exact day-over-day intersection") {
    import org.apache.spark.sql.functions.{col, date_format}
    val days: Map[String, Set[Long]] = Tables.load(spark, sf, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .collect().toSeq.groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val rows = KpiQueries.userOverlapRaw(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (da, db) = (r.getString(0), r.getString(1))
      val exact = (days(da) & days(db)).size
      val est = r.getAs[Long]("est_overlap")
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $j")
      // 64-hash MinHash σ_J ≈ 0.06 + HLL σ ≈ 1.6% propagate into the
      // inclusion-exclusion; bound at 15% relative (fixture user sets
      // are dense so J is high and the estimator is near its best case)
      assert(math.abs(est - exact) <= math.max(2.0, 0.15 * exact),
        s"$da→$db: est=$est exact=$exact")
    }
  }

  test("globalNtile: distributed two-pass rank path byte-identical to the window path") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    // force the distributed path (windowMax = 0) on the real user-grain
    // frame and pin it against Spark's ntile window — exact SQL
    // row-position semantics, every tile, both tiebreak directions
    val per = Tables.load(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"))
    val n = per.count()
    for ((sort, name) <- Seq(
      (Seq(col("n_events"), col("user_id")), "asc"),
      (Seq(col("n_events").desc, col("user_id")), "desc"))) {
      val dist = KpiQueries.globalNtile(per, n, sort, 4, "t", windowMax = 0L)
        .select(col("user_id"), col("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val win = per.withColumn("t", org.apache.spark.sql.functions.ntile(4)
          .over(org.apache.spark.sql.expressions.Window.orderBy(sort: _*)))
        .select(col("user_id"), col("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(dist === win, s"tiebreak $name")
    }
    // non-divisible tile sizes: 4 tiles over a 7-row frame — the first
    // n%k tiles must hold one extra row in BOTH paths
    val small = per.orderBy(col("user_id")).limit(7)
    val d7 = KpiQueries.globalNtile(small, 7,
        Seq(col("user_id")), 4, "t", windowMax = 0L)
      .collect().map(r => r.getAs[Int]("t"))
    assert(d7.sorted.toSeq === Seq(1, 1, 2, 2, 3, 3, 4))
  }
}
