package graft

import graft.Measure.{forceEval, num, obj, str, stealSeconds, time}

/** Benchmark main (driver contract): times every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measures steady-state: each query runs twice untimed (Janino
  * whole-stage-codegen compilation + JIT warmup — one-time costs that
  * amortize to zero on a long-lived 100 TB engine), then records the
  * median of 3 timed runs, with a per-query spread guard
  * (`variance_flagged`) so host-contention flukes are mechanically
  * separable from regressions. The record is SELF-QUALIFYING:
  * hypervisor steal is measured over the timed region, a window with
  * steal/wall > 10% is retried up to 3 times, and a record that
  * never found a quiet window carries `"contaminated": true` so no
  * consumer compares it across records unawares.
  *
  * The report splits per-query times into `queries` (every declared
  * query — the driver contract) plus `operators_sec` /
  * `pipelines_sec` subtotals: the queries named in [[Pipelines]]
  * re-serialize the fixture to JSONL/raw zones and run ingest or
  * streaming machinery INSIDE the timed region (they are end-to-end
  * gates, not operators), so their time measures machinery fixed
  * cost, not operator throughput.
  *
  * Usage: `runMain graft.Bench [out]`; the record also goes to `out`
  * (default bench.json in the working directory). Per-query iteration
  * and the scaling/decade/skew sweeps live in [[Probe]].
  */
object Bench {
  /** End-to-end pipeline gates: fixture re-serialization + streaming/
    * ingest machinery inside the timed region. */
  val Pipelines: Set[String] =
    Set("q_raw_kpis", "q_stream_hourly", "q_stateful_sessions", "q_tws_sessions",
      "q_pruned_kpis", "q_stream_enrich", "q_stream_dedup", "q_stream_dedup_wm",
      "q_stream_join", "q_stream_outer_join", "q_stream_upsert",
      "q_stream_sketch", "q_stream_drift", "q_stream_neardup",
      "q_stream_ann", "q_compact_kpis")

  private val MaxAttempts = 3
  private val StealFracLimit = 0.10

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stealStart = stealSeconds()
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    (1 to 2).foreach { _ =>
      SparkEntry.queries.foreach { case (_, fn) =>
        try forceEval(fn(spark, sfDir)) catch { case _: Throwable => }
      }
    }
    spark.catalog.clearCache() // drop warmup-accumulated cached RDDs
    System.gc()
    // Per-query harness floor: a minimal one-shuffle aggregation through
    // the same forceEval path. Everything below this number is job
    // scheduling + stage round-trips, not operator work — fixed cost
    // that amortizes to ~zero at production query sizes but is paid by
    // all ~60 sub-second queries here.
    val floor = {
      import org.apache.spark.sql.functions._
      time("floor", warm = 2, n = 5)(forceEval(spark.range(1000)
        .groupBy((col("id") % 8).as("k")).agg(sum(col("id")).as("s")))).median.get
    }
    // Sorted 3 samples per query: the median is the record, min and max
    // feed the variance guard; a one-off scheduling stall or GC pause
    // lands in one sample, not the record. A failed query records None.
    def timedSweep(): Map[String, Option[Seq[Double]]] =
      SparkEntry.queries.map { case (name, fn) =>
        val t = time(name, n = 3)(forceEval(fn(spark, sfDir)))
        name -> Option.when(!t.failed)(t.samples.sorted)
      }
    // Steal is measured over the timed region only (warmup steal does
    // not reach the medians); a sweep with steal/wall over the limit is
    // re-run on a fresh window, keeping the least-contaminated attempt.
    var attempt = 0
    var best: (Map[String, Option[Seq[Double]]], Double, Double) = null
    while (attempt < MaxAttempts && (best == null || best._3 / best._2 > StealFracLimit)) {
      attempt += 1
      val s0 = stealSeconds()
      var r: Map[String, Option[Seq[Double]]] = null
      val wall = time("timed sweep") { r = timedSweep() }.samples.head
      val steal = stealSeconds() - s0
      if (best == null || steal / wall < best._3 / best._2) best = (r, wall, steal)
      if (steal / wall > StealFracLimit) System.err.println(
        f"[bench] attempt $attempt contaminated: steal ${steal}%.1f s over ${wall}%.1f s wall " +
          f"(${100 * steal / wall}%.0f%% > ${100 * StealFracLimit}%.0f%%) — retrying on a fresh window")
    }
    val (results, timedWall, timedSteal) = best
    val line = record(results, floor, sfDir, attempt, timedWall, timedSteal,
      stealSeconds() - stealStart)
    // Durable copy first: if a stdout tail-capture truncates the line,
    // the file still holds the full record.
    Measure.writeRecord(Measure.recordPath(args.headOption, "bench.json"), line)
    spark.stop() // stop BEFORE printing so no Spark shutdown log line can land after the JSON
    println(line)
  }

  /** The stdout line: `results` holds each query's sorted samples, or
    * None for a failed query (JSON null, listed in `failed_queries`). */
  private[graft] def record(results: Map[String, Option[Seq[Double]]], floor: Double,
      sfDir: String, attempts: Int, timedWall: Double, timedSteal: Double,
      stealTotal: Double): String = {
    val ok = results.collect { case (k, Some(s)) => k -> s(s.size / 2) }
    val (pipes, ops) = ok.partition { case (k, _) => Pipelines(k) }
    def names(xs: Seq[String]) = xs.map(str).mkString("[", ",", "]")
    // Variance guard: a 3-sample spread over 2x (and not sub-250 ms
    // scheduling jitter) is listed with its (min, med, max). On a quiet
    // window the list is empty or near-empty; a long list means the
    // whole record is suspect (check steal_sec).
    val flagged = results.collect {
      case (k, Some(s)) if s.head > 0 && s.last / s.head > 2.0 && s.last - s.head > 0.25 => k -> s
    }.toSeq.sortBy(-_._2.last)
    obj(Seq(
      "metric" -> str("total"), "value" -> num(ok.values.sum), "unit" -> str("sec"),
      "floor_sec" -> num(floor),
      "operators_sec" -> num(ops.values.sum), "pipelines_sec" -> num(pipes.values.sum),
      "pipeline_queries" -> names(Pipelines.toSeq.sorted),
      "failed_queries" -> names(results.collect { case (k, None) => k }.toSeq.sorted),
      "steal_sec" -> num(timedSteal), "timed_wall_sec" -> num(timedWall),
      "steal_total_sec" -> num(stealTotal),
      "attempts" -> attempts.toString,
      "contaminated" -> (timedSteal / timedWall > StealFracLimit).toString,
      "variance_flagged" -> obj(flagged.map { case (k, s) => k -> s.map(num(_)).mkString("[", ",", "]") }),
      "queries" -> obj(results.map { case (k, v) => k -> num(v.map(s => s(s.size / 2))) }),
      "sf" -> str(sfDir), "mode" -> str("steady-state")))
  }
}
