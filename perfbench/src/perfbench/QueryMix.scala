package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** `query_mix`: a single-client closed loop over oracle-backed declared
  * queries on the benchmark's generated fixture, each pass in a seeded
  * order, after a cold and a warm-up pass that count as set-up. At least
  * [[MinPasses]] passes are timed, more while `--seconds` remain. Each query is
  * timed as three calls: `fn(spark, dir)`, `queryExecution.executedPlan`
  * and `queryExecution.toRdd.foreach`.
  *
  * The work is read-only operator work across the eight operator
  * modules. It reaches the pipeline only through one fixture gate,
  * `q_dsv2_daily` (the event generator behind a DSv2 source), so
  * pipeline changes should predict almost no change here. The queries
  * are sub-second when warm, which exposes the per-query scheduling
  * floor. `mix_queries_per_s` is the slate size over the median quiet
  * pass time. */
object QueryMix {
  /** Query -> operator module: one query per module, among the cheapest
    * of its module in a cold run on the fixture (for KpiQueries the
    * reference's own KPI, q_kpi_daily), so that the cold pass fits the
    * run budget and a run holds several timed passes. */
  val Slate: Seq[(String, String)] = Seq(
    "q_kpi_daily" -> "KpiQueries",
    "q1_pricing_summary" -> "TpchQueries",
    "q_token_count" -> "TextQueries",
    "q_dup_canonical" -> "DupClusters",
    "q_vec_quantize" -> "VectorQueries",
    "q_quality_prune" -> "TrainingQueries",
    "q_dsv2_daily" -> "PipelineQueries",
    "q_train_split" -> "AnalyticsExtras")
  /** Timed passes per run at least, and quiet passes wanted (see [[Passes]]). */
  val MinPasses = 6
  val Modules: Seq[String] = Seq("KpiQueries", "TpchQueries", "TextQueries", "DupClusters",
    "VectorQueries", "TrainingQueries", "PipelineQueries", "AnalyticsExtras")

  def slateHash: String = {
    val text = Slate.map(_._1).sorted.map(q => q + "\n" + graft.SparkEntry.oracleSql(q)).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val t = ctx.tracer
    val spark = ctx.spark
    val dir = ctx.opts.fixture.getOrElse(sys.error("query_mix needs --fixture"))
    val fns = graft.SparkEntry.queries
    val slate = if (ctx.opts.smoke) Slate.take(2) else Slate
    o.provenance("slate") = slate.map(_._1)
    o.provenance("slate_sha256") = slateHash

    // Cold pass: first-time planning, code generation, JIT and the
    // engine's memo caches. Its results are the ones checked. One more
    // untimed pass lets the JIT settle, so the timed passes do not ride
    // the steep start of its warm-up curve.
    val results = t.span("operators.cold_pass") {
      val r = slate.map { case (q, _) =>
        val q0 = System.nanoTime()
        val r = scala.util.Try(fns(q)(spark, dir)).map(df => (df.schema, df.collect()))
        o.provenance(s"cold_s.$q") = (System.nanoTime() - q0) / 1e9
        q -> r
      }
      for ((q, _) <- slate if r.exists(x => x._1 == q && x._2.isSuccess))
        fns(q)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      r
    }
    o.setupSeconds = ctx.sinceStart

    ctx.beginTimed(o)
    val passes = new Passes(ctx, o, MinPasses)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    while (passes.more) {
      val pass = passes.count
      val order = new scala.util.Random(ctx.opts.seed * 1000003L + pass).shuffle(slate)
      samples += passes.time(order.flatMap { case (q, module) =>
        o.attempted += 1
        val q0 = System.nanoTime()
        try {
          val df: DataFrame = t.span(s"operators.$module.build") { fns(q)(spark, dir) }
          t.span(s"operators.$module.plan") { df.queryExecution.executedPlan }
          t.span(s"operators.$module.exec") { df.queryExecution.toRdd.foreach(_ => ()) }
          if (t.enabled) {
            val ph = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { p =>
              o.add(s"operators.${p}_s", ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
            }
          }
          Some((System.nanoTime() - q0) / 1e9)
        } catch {
          case e: Exception =>
            o.fail(s"pass $pass $q: ${e.getClass.getSimpleName}: ${e.getMessage}", wrongValue = false)
            None
        }
      })
    }
    ctx.endTimed(o)
    if (t.enabled) t.span("operators.floor") { o.add("operators.floor_s", floorProbe(ctx)) }
    val used = passes.used
    o.latencies ++= used.flatMap(samples)
    // Queries per second of the median pass.
    o.throughput = slate.size / Main.median(used.map(passes.wallSeconds))
    o.named("mix_queries_per_s") = (o.throughput, "1/s")
    o.named("mix_query_p50_s") = (Main.median(o.latencies.toSeq), "s")
    o.named("mix_query_p90_s") = (Main.percentile(o.latencies.toSeq, 0.9), "s")
    passes.record()

    // Dump the cold-pass results for the DuckDB oracle check that
    // perfbench/run.py runs after this JVM exits.
    val dump = ctx.dir("dump")
    results.foreach {
      case (q, scala.util.Success((schema, rows))) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
          .parquet(s"$dump/$q")
      case (q, scala.util.Failure(e)) =>
        o.attempted += 1
        o.fail(s"cold $q: ${e.getClass.getSimpleName}: ${e.getMessage}", wrongValue = false)
    }
    val oracle = slate.map { case (q, _) => Json.quote(q) + ":" + Json.quote(graft.SparkEntry.oracleSql(q)) }
    Files.writeString(Paths.get(dump, "oracle_sql.json"), oracle.mkString("{", ",", "}"))
    o
  }

  /** The `graft.Bench` floor probe: a minimal one-shuffle aggregation,
    * twice warm, then the median of five. */
  def floorProbe(ctx: Ctx): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      ctx.spark.range(1000).groupBy((col("id") % 8).as("k")).agg(sum(col("id")).as("s"))
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
    Main.median(Seq.fill(5)(once()))
  }
}
