package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** The measurement core of the harness mains ([[Bench]], [[Probe]]):
  * one timing loop, the steal reading, the JSON number format, the
  * record path rule and the query-name check.
  */
object Measure {

  /** Fully evaluates every row and column of the plan. `count()` would
    * let Catalyst prune projections and eliminate sorts under the
    * aggregate, so pure-projection queries would time only a pruned
    * parquet scan instead of the declared operator.
    */
  def forceEval(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Cumulative hypervisor steal time (seconds) from /proc/stat — the
    * 9th cpu field, in 10 ms jiffies. A shared VM host can run steal
    * storms (observed: a 187 CPU-second burst mid-bench turning a 50 s
    * record into 91 s with identical code), so records carry
    * the delta: a `steal_sec` far above ~0 means the numbers measure
    * the neighbor, not the engine. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines()
          .find(_.startsWith("cpu ")).get.trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Wall seconds of every run of one body: `warm` warm-ups (codegen,
    * JIT, caches), then the timed samples. */
  final case class Timing(warm: Seq[Double], samples: Seq[Double], failed: Boolean) {
    /** Median timed sample. None when any run threw: a time-to-failure
      * (often ~0 s) is indistinguishable from a fast pass to a reader
      * of the record. */
    def median: Option[Double] =
      if (failed) None else Some(samples.sorted.apply(samples.size / 2))
  }

  /** The one timing loop: runs `body` `warm` times, then `n` timed
    * times, timing each run. A run that throws is reported on stderr
    * under `what` and marks the timing failed; the remaining runs still
    * go, so one flaky failure does not hide the others. */
  def time(what: String, warm: Int = 0, n: Int = 1)(body: => Unit): Timing = {
    var failed = false
    def once(): Double = {
      val t0 = System.nanoTime()
      try body catch {
        case e: Throwable =>
          failed = true
          System.err.println(s"[measure] $what FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val w = Seq.fill(warm)(once())
    Timing(w, Seq.fill(n)(once()), failed)
  }

  /** JSON number with ms precision. Full-precision doubles tripled the
    * bench line and a tail-capturing reader truncated it; three
    * decimals is below the ~0.1 s scheduling floor. Locale.ROOT: a
    * comma-decimal default locale would silently break the JSON. */
  def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** [[num]], or JSON null for a failed measurement. */
  def num(v: Option[Double]): String = v.fold("null")(num)

  /** A JSON string of text that needs no escaping (names, paths). */
  def str(s: String): String = "\"" + s + "\""

  /** `"k":v` pairs as one JSON object; values are already JSON. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Where a record goes: the explicit path if given, else `file` in
    * the working directory (sbt runMain runs at the checkout root), so
    * a run never writes into some other checkout. */
  def recordPath(explicit: Option[String], file: String): String =
    explicit.getOrElse(Paths.get(sys.props("user.dir"), file).toString)

  /** Writes one JSON line; a failed write is reported, not thrown, so
    * the stdout copy of the record still gets printed. */
  def writeRecord(path: String, line: String): Unit =
    try Files.writeString(Paths.get(path), line + "\n")
    catch { case e: Throwable => System.err.println(s"[measure] FAILED to write $path: $e") }

  /** Names that are not declared queries, in the order given. */
  def unknownQueries(names: Seq[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.contains).distinct

  /** Exits 2 naming any undeclared query, before a session is built:
    * a misspelled name would otherwise fail only after Spark start-up,
    * or run nothing at all. */
  def requireKnown(tag: String, names: Seq[String]): Unit = {
    val unknown = unknownQueries(names)
    if (unknown.nonEmpty) {
      System.err.println(s"[$tag] unknown query names: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
  }
}
