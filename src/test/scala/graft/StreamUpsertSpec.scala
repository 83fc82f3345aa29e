package graft

import org.apache.spark.sql.functions._
import graft.operators.PipelineQueries

/** Streaming materialized-view maintenance: the upserted KPI table
  * must equal the one-shot batch answer (regardless of micro-batch
  * chopping), and the gate must actually exercise MULTIPLE upsert
  * batches (otherwise it degenerates to a single overwrite and tests
  * nothing incremental).
  */
class StreamUpsertSpec extends SparkSpec {

  test("upserted KPI table equals the direct batch computation") {
    import graft.model.Kpis.{isPageview, isPurchase}
    val got = PipelineQueries.streamUpsertKpis(spark, sf).collect().map(_.toSeq)
    val exp = Tables.load(spark, sf, "events")
      .where(to_date(col("ts")) < lit(PipelineQueries.StreamCutoff))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(
        count(lit(1)).as("total_events"),
        sum(when(isPageview(col("event_type")), 1L).otherwise(0L)).as("pageviews"),
        sum(when(isPurchase(col("event_type")), 1L).otherwise(0L)).as("purchases"),
        graft.functions.F.roundBin(sum(when(isPurchase(col("event_type")),
          coalesce(col("value"), lit(0.0))).otherwise(0.0)), 2).as("revenue_usd"))
      .orderBy(col("dt")).collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === exp.toSeq)
  }

  test("the drain runs as multiple micro-batches (incremental upserts)") {
    val (got, nBatches) = PipelineQueries.streamUpsertKpisCounted(spark, sf)
    // the zone holds 4 data files + a garbage file and the source caps
    // at 1 file/trigger ⇒ a full drain must upsert several times
    assert(nBatches >= 2, s"expected an incremental drain, got $nBatches batch(es)")
    // each day present exactly once: partition overwrite kept only the
    // LATEST version of every day — duplicates would mean append
    // semantics, a stale row would mean a missed upsert
    val days = got.select(col("dt")).collect().map(_.getString(0))
    assert(days.length === days.distinct.length)
    assert(days.length >= 4, s"expected ≥4 day partitions, got ${days.toSeq}")
  }
}
