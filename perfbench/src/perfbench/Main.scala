package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Options of one workload run. `smoke` shrinks every size to a few
  * seconds of work for the benchmark's own tests; `corruptExpected`
  * perturbs one expected KPI value so those tests can show that a wrong
  * result is caught. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, fixture: Option[String],
                      smoke: Boolean, corruptExpected: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), kv.get("fixture"),
      kv.get("smoke").contains("1"), kv.get("corrupt-expected").contains("1"))
  }
}

/** What a workload hands back: its operations, their check results,
  * the latency samples behind the percentiles, and everything else it
  * measured. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
  var throughput = 0.0
  var setupSeconds = 0.0
  var timedStart, timedEnd = 0.0
  /** End-to-end figures under the names the workload's docs use. */
  val named = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val provenance = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v

  /** A failed operation; `wrongValue` marks output that was present but wrong. */
  def fail(problem: String, wrongValue: Boolean): Unit = {
    failed += 1
    if (wrongValue) wrong += 1
    if (problems.size < 20) problems += problem
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val listener: Option[LayerListener],
                val opts: Opts, val startNanos: Long) {
  def sinceStart: Double = (System.nanoTime() - startNanos) / 1e9
  def dir(name: String): String = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  private var steal0 = 0.0
  /** Marks the first timed operation: set-up ends here. A full GC first
    * keeps set-up garbage out of the timed region. */
  def beginTimed(o: Outcome): Unit = {
    System.gc()
    o.timedStart = tracer.now()
    steal0 = Main.stealSeconds()
  }
  def endTimed(o: Outcome): Unit = {
    o.timedEnd = tracer.now()
    o.provenance("steal_timed_s") = Main.stealSeconds() - steal0
  }
}

/** The timed passes of a workload, each with the hypervisor steal the
  * host took during it. Steal comes in bursts, and a pass it hits runs
  * slower, in wall time and beyond what was stolen. A pass is quiet when
  * the host stole at most [[Passes.StealPerWallLimit]] CPU-seconds per
  * wall second during it, the limit of `graft.Bench`. Passes run at least
  * `min` times and for `--seconds`; while fewer than `min` are quiet they
  * go on, up to [[Passes.MaxTimedFactor]] times `--seconds`. The figures
  * come from the quiet passes if there are `min` of them, else from all,
  * and the record is then marked contaminated. */
final class Passes(ctx: Ctx, o: Outcome, min: Int) {
  private val walls, steals = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def elapsed = ctx.tracer.now() - o.timedStart
  private def quiet = walls.indices.filter(i => steals(i) <= Passes.StealPerWallLimit * walls(i))

  /** Passes begun, including any that threw. */
  var count = 0
  def more: Boolean = count < min || elapsed < ctx.opts.seconds ||
    (quiet.size < min && elapsed < Passes.MaxTimedFactor * ctx.opts.seconds)

  /** Times one pass. A pass that throws is counted but not recorded, so
    * the recorded passes are the ones that completed, in order. */
  def time[T](body: => T): T = {
    count += 1
    val p0 = System.nanoTime()
    val s0 = Main.stealSeconds()
    val r = body
    walls += (System.nanoTime() - p0) / 1e9
    steals += Main.stealSeconds() - s0
    r
  }

  /** Indices of the passes the figures come from. */
  def used: Seq[Int] = if (quiet.size >= min) quiet else walls.indices

  /** Wall time of the `i`-th completed pass. */
  def wallSeconds(i: Int): Double = walls(i)

  def record(): Unit = {
    o.provenance("passes") = count
    o.provenance("quiet_passes") = quiet.size
    o.provenance("contaminated") = quiet.size < min
    o.provenance("pass_s") = walls.toSeq
    o.provenance("pass_steal_s") = steals.toSeq
  }
}

object Passes {
  val StealPerWallLimit = 0.10
  val MaxTimedFactor = 3
}

/** Runs one workload in this JVM and writes its record as JSON.
  *
  * {{{
  * perfbench.Main --workload backfill|trickle|query_mix --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE [--fixture DIR] [--smoke 1] [--corrupt-expected 1]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = Opts.parse(args)
    val tracer = new Tracer(opts.trace, s"${opts.workload}-${opts.seed}")
    val spark = tracer.span("Tables.session") { graft.Tables.session() }
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    val listener = if (opts.trace) Some(new LayerListener(tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, tracer, listener, opts, start)
    val gc0 = gcTotals()
    val out = tracer.span("run") {
      opts.workload match {
        case "backfill" => Backfill.run(ctx)
        case "trickle" => Trickle.run(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
    }
    val gc1 = gcTotals()
    log(ctx, "workload done")
    val layers = if (opts.trace) {
      ctx.drain()
      Layers.collect(ctx, out, gc1._1 - gc0._1, gc1._2 - gc0._2)
    } else Map.empty[String, Double]
    if (opts.trace) Files.writeString(Paths.get(opts.out.toString + ".spans.json"), tracer.toJson)
    Files.writeString(opts.out, record(ctx, out, layers))
    log(ctx, "record written")
    spark.stop()
    log(ctx, "session stopped")
  }

  def log(ctx: Ctx, msg: String): Unit = System.err.println(f"[perfbench] ${ctx.sinceStart}%.2f s: $msg")

  /** (collection seconds, collection count) summed over collectors. */
  def gcTotals(): (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum / 1e3, bs.map(_.getCollectionCount.max(0L)).sum)
  }

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this JVM: its peak resident set. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Cumulative hypervisor steal (seconds): field 9 of the `cpu` line
    * of /proc/stat, in 10 ms ticks — the method of `graft.Bench`. */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def record(ctx: Ctx, o: Outcome, layers: Map[String, Double]): String = {
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse(s"max=${Runtime.getRuntime.maxMemory}")
    val e2e = Map[String, Any](
      "setup_s" -> o.setupSeconds,
      "latency_p50_s" -> median(o.latencies.toSeq),
      "latency_p90_s" -> percentile(o.latencies.toSeq, 0.9),
      "throughput_per_s" -> o.throughput,
      "peak_rss_mb" -> peakRssMb)
    Json.render(Map(
      "workload" -> ctx.opts.workload,
      "correct" -> (o.wrong == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "failed_frac" -> (if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted),
      "problems" -> o.problems.toSeq,
      "samples" -> o.latencies.size,
      "e2e" -> e2e,
      "named" -> o.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers,
      "provenance" -> (o.provenance.toMap ++ Map(
        "seed" -> ctx.opts.seed,
        "seconds" -> ctx.opts.seconds,
        "trace" -> ctx.opts.trace,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "xmx" -> xmx,
        "timed_s" -> (o.timedEnd - o.timedStart))))) + "\n"
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
