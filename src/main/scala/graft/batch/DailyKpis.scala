package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{EventSchema, Kpis}

/** Reference-parity daily KPI job over raw JSONL
  * (reference: airflow/dags/daily_kpis.py — partition-pruned scan →
  * single-pass fold → one KPI row per day → snappy parquet).
  *
  * Spark-first restatement (SURVEY.md §3 EP3):
  *  - the per-day Airflow run (`catchup=True`, ≤16 parallel day-runs)
  *    becomes ONE distributed job grouped by event date — per-day
  *    parallelism becomes intra-job partition parallelism;
  *  - the S3-prefix partition prune (daily_kpis.py:155-156) becomes a
  *    partition-column filter Catalyst pushes into the file scan;
  *  - malformed JSON lines are dropped via PERMISSIVE mode +
  *    corrupt-record filter — count-identical to the reference's
  *    `except: continue` (daily_kpis.py:104-107);
  *  - the fold, its revenue rounding and the event-time parse are
  *    [[graft.model.Kpis]]'s, shared with every other KPI query.
  */
object DailyKpis {

  /** Read raw JSONL (optionally Hive-partitioned by date=/hour=). */
  def readRaw(spark: SparkSession, rawPath: String): DataFrame =
    spark.read
      .schema(EventSchema.schemaWithCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", EventSchema.CorruptCol)
      .json(rawPath)

  /** All-days KPI table: one row per event-date present in the input.
    * `day = Some(d)` reproduces the reference's single-day run: when
    * the raw zone is Hive-partitioned (`date=YYYY-MM-DD/hour=HH`, the
    * RawIngest layout), the filter lands on the `date` PARTITION
    * column, so Catalyst prunes the listing to one directory — the
    * Spark restatement of the reference's S3 prefix prune
    * (daily_kpis.py:155-156); only a flat un-partitioned dir falls
    * back to the row filter on the parsed timestamp. Asserted as
    * non-empty `PartitionFilters` in PlanSpec.
    *
    * On a partitioned zone every row is keyed by its `date=`
    * partition, as the reference keys a run's rows by the day whose
    * prefix it read (daily_kpis.py P9, `kpis["dt"] = day`): a line
    * whose `event_ts` does not parse — ingest routed it by arrival
    * time — counts toward its partition's day, not toward a NULL `dt`.
    * A flat dir has no partition, so it keys by the parsed timestamp. */
  def compute(spark: SparkSession, rawPath: String, day: Option[String] = None): DataFrame = {
    val rawAll = readRaw(spark, rawPath)
    val partitioned = rawAll.columns.contains("date")
    val raw = rawAll
      // reference drops lines that fail json.loads (daily_kpis.py:104-107);
      // PERMISSIVE mode yields all-null rows w/ corrupt sidecar for those
      .where(col(EventSchema.CorruptCol).isNull)
      .drop(EventSchema.CorruptCol)
      .withColumn("ts", Kpis.eventTime)
    val pruned = day.fold(raw) { d =>
      if (partitioned) raw.where(col("date") === lit(d))
      else raw.where(to_date(col("ts")) === lit(d))
    }
    if (partitioned) aggregateEvents(pruned, col("date").cast("string").as("dt"))
    else aggregateEvents(pruned)
  }

  /** The KPI fold itself (daily_kpis.py:109-140) over any DataFrame
    * with (user_id, session_id, event_type, price), one row per key
    * `dt`, a column named `dt` that defaults to the date of a `ts`
    * column. Exposed so properties of the fold are testable on
    * arbitrary inputs. */
  def aggregateEvents(events: DataFrame, dt: Column = Kpis.dt): DataFrame =
    events
      .groupBy(dt)
      .agg(Kpis.totalEvents, Kpis.uniqueUsers, Kpis.uniqueSessions,
        Kpis.pageviews, Kpis.purchases, Kpis.revenue(col("price")))
      .orderBy(col("dt"))

  /** KPI sink (reference: daily_kpis.py:165-172 — snappy parquet under
    * kpis/daily/dt=<day>/). Snappy is Spark's parquet default. Dynamic
    * partition overwrite replaces only the `dt=` partitions `kpis`
    * holds, as the reference's per-day object put does: a `--date` run
    * leaves every other day's KPIs in place. */
  def write(kpis: DataFrame, outPath: String): Unit =
    kpis.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(outPath)
}
