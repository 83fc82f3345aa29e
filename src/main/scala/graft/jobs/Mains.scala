package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import graft.batch.DailyKpis
import graft.quality.Freshness
import graft.streaming.RawIngest

/** spark-submit entry points — the reference's primary artifact is
  * runnable scheduled jobs, one per Airflow task:
  *
  *  - [[DailyKpisMain]]  ⇔ daily_kpis.py:142-195 (the `daily_kpis` DAG)
  *  - [[IngestMain]]     ⇔ ingest_clickstream_to_s3.py:84-92
  *  - [[FreshnessMain]]  ⇔ ingest_healthcheck.py:13-44
  *
  * Each wires [[RunDate.resolve]] (P11 precedence: --date arg — the
  * "conf" slot — > GRAFT_RUN_DATE env > scheduler logical date via
  * GRAFT_LOGICAL_DATE > today UTC) to the corresponding library job,
  * so an orchestrator reschedules/backfills by date exactly like the
  * reference's Airflow `{{ ds }}`.
  */
object JobArgs {
  /** (positional, flags) split: `--k v` pairs become flags. */
  def parse(args: Array[String]): (Vector[String], Map[String, String]) = {
    var pos = Vector.empty[String]
    var flags = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--") && i + 1 < args.length) {
        flags += (args(i).stripPrefix("--") -> args(i + 1)); i += 2
      } else { pos :+= args(i); i += 1 }
    }
    (pos, flags)
  }

  /** P11 precedence through the CLI surface. */
  def runDate(flags: Map[String, String]): String =
    RunDate.resolve(
      conf = flags.get("date"),
      env = sys.env.get("GRAFT_RUN_DATE"),
      logical = sys.env.get("GRAFT_LOGICAL_DATE")).toString

  def session(): SparkSession = graft.Tables.session()

  /** The Hadoop conf of a [[session]], built without one: every
    * `spark.hadoop.*` entry of the Spark conf (`spark-submit --conf`,
    * `-Dspark.hadoop.*`) with its prefix stripped, then the `file:`
    * layer [[graft.sources.LocalFs]] installs. */
  def hadoopConf(): Configuration = {
    val conf = new Configuration()
    new SparkConf().getAllWithPrefix("spark.hadoop.").foreach { case (k, v) => conf.set(k, v) }
    graft.sources.LocalFs.settings.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

/** `spark-submit --class graft.jobs.DailyKpisMain <jar> <rawDir> <outDir>
  *    [--date YYYY-MM-DD] [--all-days true]`
  *
  * Single-day KPI run (reference semantics) writing
  * `<outDir>/dt=<day>/` parquet; `--all-days true` runs the
  * generalized all-days aggregation in one job instead.
  */
object DailyKpisMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = JobArgs.parse(args)
    require(pos.length == 2, "usage: DailyKpisMain <rawDir> <outDir> [--date d] [--all-days true]")
    val spark = JobArgs.session()
    try run(spark, pos(0), pos(1), flags)
    finally spark.stop()
  }

  /** Testable body (session injected). @return the day computed, or
    * None for an all-days run. */
  def run(spark: SparkSession, rawDir: String, outDir: String,
          flags: Map[String, String]): Option[String] = {
    val allDays = flags.get("all-days").exists(_.toBoolean)
    val day = if (allDays) None else Some(JobArgs.runDate(flags))
    val kpis = DailyKpis.compute(spark, rawDir, day)
    DailyKpis.write(kpis, outDir)
    day
  }
}

/** `spark-submit --class graft.jobs.IngestMain <jar> <inDir> <rawDir> <checkpointDir>`
  *
  * Bounded streaming ingest (Trigger.AvailableNow ⇔ the reference's
  * poll window): JSONL in `<inDir>` → event-time `date=/hour=`
  * partitioned raw zone at `<rawDir>`, exactly-once via the
  * checkpoint; re-invocation drains only new input. With
  * `--kafka <bootstrap>` the source is the Kafka topic instead.
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = JobArgs.parse(args)
    require(pos.length == 3, "usage: IngestMain <inDir> <rawDir> <checkpointDir> [--kafka bootstrap]")
    val spark = JobArgs.session()
    try {
      val events = flags.get("kafka")
        .map(bs => RawIngest.fromKafka(spark, bs))
        .getOrElse(RawIngest.fromFiles(spark, pos(0)))
      RawIngest.start(events, pos(1), pos(2)).awaitTermination()
    } finally spark.stop()
  }
}

/** `spark-submit --class graft.jobs.FreshnessMain <jar> <rawDir>
  *    [--date d] [--lookback-min 20]`
  *
  * Exits 0 iff a raw object under `<rawDir>/date=<day>/` was modified
  * within the lookback window; throws (non-zero exit) otherwise —
  * the reference healthcheck's raise-on-stale contract. A listing
  * needs no `SparkSession`, so none is started.
  */
object FreshnessMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = JobArgs.parse(args)
    require(pos.length == 1, "usage: FreshnessMain <rawDir> [--date d] [--lookback-min 20]")
    val day = JobArgs.runDate(flags)
    val lookback = flags.get("lookback-min").map(_.toInt).getOrElse(20)
    Freshness.check(JobArgs.hadoopConf(), pos(0), day, lookback)
    println(s"FRESH $day")
  }
}
