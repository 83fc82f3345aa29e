package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet column bloom filters for point lookups on UNSORTED columns
  * — the third leg of the scan-pruning family: [[SortedLayout]] gives
  * min/max zone maps for RANGE predicates on the sort key,
  * [[graft.functions.ZOrder]] extends them to two dimensions, and
  * this layout answers "all events for user X" — an equality probe on
  * a high-cardinality column that time-ordered row groups can never
  * prune by min/max (every group spans most users).
  *
  * Mechanics: the layout keeps the realistic time-ordered write (same
  * range-partition + in-partition ts sort as SortedLayout) and adds a
  * per-row-group split-block bloom filter on `user_id`
  * (`parquet.bloom.filter.enabled#user_id`, sized by declared NDV).
  * At read time Spark pushes the `user_id IN (...)` predicate into
  * parquet-mr, which tests each row group's bloom BEFORE decoding
  * anything — groups whose filter excludes all probed ids are
  * skipped entirely (false-positive rate ~1%, never false negatives,
  * so results are exact). At 100 TB this turns a per-user history
  * lookup from a full-table decode into reading ~|user's groups| —
  * the access path a GDPR subject-access or per-user debugging query
  * needs, without maintaining a second user-sorted copy.
  *
  * Layout is built once per events snapshot, like
  * SortedLayout.ensureSorted: steady-state timings measure the query.
  */
object BloomScan {
  /** Deterministic probe set for the gated query (exists at every sf). */
  val ProbeUsers: Seq[Long] = Seq(7L, 42L, 99L)

  /** Write-once ts-sorted events layout with a user_id bloom filter per
    * row group; returns its path. */
  private[graft] def ensureBloomLayout(spark: SparkSession, dir: String): String =
    graft.Artifacts.memo("bloom-layout", spark, dir, Seq("events")) {
      val out = graft.Artifacts.tempDir("graft-bloom").resolve("events").toString
      graft.Tables.withConfs(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        graft.Tables.load(spark, dir, "events")
          .repartitionByRange(8, col("ts"))
          .sortWithinPartitions(col("ts"))
          .write.mode("overwrite")
          // small fixture groups so skipping is observable at small sf;
          // production uses the default ~128 MiB group
          .option("parquet.block.size", SortedLayout.FixtureRowGroupBytes.toString)
          .option("parquet.bloom.filter.enabled#user_id", "true")
          // parquet-mr only materializes a bloom filter when the
          // column's dictionary encoding falls back (a fully
          // dict-encoded chunk already answers exact membership via
          // the cheaper DictionaryFilter). Fixture user_id cardinality
          // never overflows a dictionary page, so — like the shrunken
          // row groups above — disable dictionary for THIS column to
          // make the production path (high-cardinality fallback →
          // bloom) observable and spec-assertable at small sf.
          .option("parquet.enable.dictionary#user_id", "false")
          // NDV sizes the filter's bit budget: overestimate costs bytes,
          // underestimate costs false-positive rate (reads, not wrong
          // answers). 100k covers every fixture sf; production derives
          // it from table stats (q_table_stats' approx NDV column).
          .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
          .parquet(out)
      }
      out
    }

  /** Per-user history rollup over the bloom layout — the point-lookup
    * query the layout exists for. The IN predicate reaches parquet as
    * a pushed filter and is tested against each row group's bloom
    * before decode. */
  def bloomScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.Kpis
    spark.read.parquet(ensureBloomLayout(spark, dir))
      .where(col("user_id").isin(ProbeUsers: _*))
      .groupBy(col("user_id"))
      .agg(Kpis.totalEvents.as("n_events"), Kpis.purchases.as("n_purchases"),
        Kpis.revenue(col("value")))
      .orderBy(col("user_id"))
  }
}
