package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One generated event: its landed JSON line and the fields the KPI
  * definitions read. */
final case class Event(json: String, ts: String, user: String, session: String,
                       eventType: String, priceCents: Long) {
  def day: String = ts.substring(0, 10)
}

/** A KPI row; revenue in whole cents so that equality is exact. */
final case class KpiRow(dt: String, totalEvents: Long, uniqueUsers: Long, uniqueSessions: Long,
                        pageviews: Long, purchases: Long, revenueCents: Long)

/** Independent running fold of the reference KPI definitions
  * (daily_kpis.py:109-140) in plain Scala — deliberately not through
  * `graft.batch.DailyKpis`, so the check does not share the code it
  * checks. Pageviews are page_view/pageview/view and purchases are
  * purchase/order/checkout, case-insensitive; revenue sums the price of
  * purchases and rounds to cents. */
final class KpiFold {
  private final class Day {
    var total, pageviews, purchases, cents = 0L
    val users = mutable.HashSet.empty[String]
    val sessions = mutable.HashSet.empty[String]
  }
  private val days = mutable.TreeMap.empty[String, Day]

  def add(e: Event): Unit = {
    val d = days.getOrElseUpdate(e.day, new Day)
    d.total += 1
    d.users += e.user
    d.sessions += e.session
    val t = e.eventType.toLowerCase
    if (Set("page_view", "pageview", "view")(t)) d.pageviews += 1
    if (Set("purchase", "order", "checkout")(t)) { d.purchases += 1; d.cents += e.priceCents }
  }

  def rows: Map[String, KpiRow] = days.map { case (dt, d) =>
    dt -> KpiRow(dt, d.total, d.users.size, d.sessions.size, d.pageviews, d.purchases, d.cents)
  }.toMap
}

object Kpi {
  /** Generates events through the engine's `EventGenerator` and brings
    * them to the driver in id order, with their wire JSON. */
  def generate(spark: SparkSession, n: Long, seed: String, start: String, days: Int): Array[Event] =
    graft.gen.EventGenerator.events(spark, n, seed, start, days)
      .select(to_json(struct(col("*"))), col("event_ts"), col("user_id"), col("session_id"),
        col("event_type"), coalesce(round(col("price") * 100), lit(0.0)).cast("long"))
      .collect()
      .map(r => Event(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))

  /** Writes `events` as one JSONL file; returns its size in bytes. */
  def writeJsonl(path: Path, events: Seq[Event]): Long = {
    val sb = new java.lang.StringBuilder
    events.foreach(e => sb.append(e.json).append('\n'))
    Files.write(path, sb.toString.getBytes(UTF_8)).toFile.length
  }

  def expected(events: Iterable[Event]): Map[String, KpiRow] = {
    val f = new KpiFold
    events.foreach(f.add)
    f.rows
  }

  /** Reads the KPI table back as users see it. */
  def readBack(spark: SparkSession, kpiDir: String): Map[String, KpiRow] =
    if (!Files.exists(java.nio.file.Paths.get(kpiDir))) Map.empty
    else spark.read.parquet(kpiDir)
      .select(col("dt").cast("string"), col("total_events"), col("unique_users"),
        col("unique_sessions"), col("pageviews"), col("purchases"),
        round(col("revenue_usd") * 100).cast("long"))
      .collect()
      .map(r => r.getString(0) -> KpiRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap

  /** Days of `days` whose row is missing, and days whose row is wrong. */
  def diff(expected: Map[String, KpiRow], actual: Map[String, KpiRow],
           days: Iterable[String]): (Seq[String], Seq[String]) = {
    val ds = days.toSeq.sorted
    (ds.filterNot(actual.contains), ds.filter(d => actual.get(d).exists(r => !expected.get(d).contains(r))))
  }

  /** The test hook: one expected value off by one. */
  def corrupt(rows: Map[String, KpiRow]): Map[String, KpiRow] =
    rows.headOption.fold(rows) { case (d, r) => rows.updated(d, r.copy(totalEvents = r.totalEvents + 1)) }
}
