package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Bucketed co-located fact-fact join (SURVEY.md §2 J-family; 100 TB
  * posture): both fact tables are written ONCE bucketed by the join
  * key, after which every join/aggregation on that key runs with ZERO
  * shuffle exchange — the scan itself provides the required hash
  * distribution, so a 100 TB lineitem⋈orders moves no bytes between
  * executors. This is the write-once-join-forever layout the reference
  * approximates with its per-day S3 prefixes
  * (daily_kpis.py:155-156) — generalized from time keys to join keys.
  *
  * Mechanics: `bucketBy(N, key).sortBy(key).saveAsTable` records the
  * bucket spec in the catalog; the scan exposes
  * `HashPartitioning(key, N)`, the merge-hinted SortMergeJoin accepts
  * both sides as-is (no Exchange), and the downstream
  * groupBy(o_orderkey) reuses the join's PartitioningCollection —
  * the ONLY exchange in the whole plan is the final presentation
  * orderBy (asserted in PlanSpec). Bucket count is a layout knob: at
  * 100 TB you size N so a bucket pair fits an executor's merge
  * buffer (e.g. 4096), rewriting only when the corpus outgrows it.
  */
object BucketedJoin {
  val NumBuckets = 8

  /** Write-once bucketed layout for (orders, lineitem) keyed by order
    * key; returns the two catalog tables' names. Built once per
    * (orders, lineitem) snapshot, so steady-state timings measure the
    * join, not the write — exactly the production split (layout job vs.
    * query). The tables are EXTERNAL at a fresh temp location, named
    * after it: a fresh session's in-memory catalog has no memory of a
    * previous process's managed warehouse dirs, so a managed
    * saveAsTable would refuse the leftover location
    * ([LOCATION_ALREADY_EXISTS]), and a name per build keeps each
    * memoized layout's tables apart from another dir's or snapshot's. */
  private[graft] def ensureBucketed(spark: SparkSession, dir: String): (String, String) =
    graft.Artifacts.memo("bucketed-layout", spark, dir, Seq("orders", "lineitem")) {
      import graft.Tables.load
      val zone = graft.Artifacts.tempDir("graft-bkt")
      val tag = zone.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
      val (orders, lineitem) = (s"${tag}_orders", s"${tag}_lineitem")
      load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite")
        .option("path", zone.resolve("orders").toString)
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(orders)
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .option("path", zone.resolve("lineitem").toString)
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitem)
      (orders, lineitem)
    }

  /** Per-order item count/quantity/price over the co-located layout.
    * Semantically identical to the plain shuffle join (the oracle IS
    * the plain SQL join); the merge hint keeps the small-SF fixture on
    * the same SortMergeJoin path the 100 TB table would take instead
    * of degenerating to a broadcast. */
  def ordersPerKey(spark: SparkSession, dir: String): DataFrame = {
    val (orders, lineitem) = ensureBucketed(spark, dir)
    val l = spark.table(lineitem).hint("merge")
    val o = spark.table(orders).hint("merge")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        F.roundBin(sum(col("l_quantity")), 2).as("sum_qty"),
        F.roundBin(max(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderkey"))
  }
}
