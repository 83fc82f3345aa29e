package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call at a layer boundary. Times are epoch seconds; `parent`
  * is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span recorder, written out when the run ends.
  *
  * Disabled (the untraced runs that give the end-to-end metrics),
  * `span` only evaluates its body. Enabled, each span also tags the
  * Spark jobs its thread submits through a local property, so
  * [[LayerListener]] can attribute jobs, tasks and their metrics to
  * the layer call that caused them. Spans are opened and closed on the
  * driver thread only; `record` is also called from the listener bus.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _
  private var quiet = false
  private val epochOffset = System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9

  def now(): Double = System.nanoTime() / 1e9 + epochOffset
  def attach(ctx: SparkContext): Unit = sc = ctx
  def current: Int = stack.headOption.getOrElse(0)

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private def tagJobs(): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)

  def span[T](name: String)(body: => T): T =
    if (!enabled || quiet) body
    else {
      val id = newId()
      val parent = current
      stack ::= id
      tagJobs()
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        tagJobs()
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** One span for `body`, with no spans recorded inside it: set-up work
    * that exercises the layers but must not count in their numbers. */
  def muted[T](name: String)(body: => T): T = span(name) {
    quiet = true
    try body finally quiet = false
  }

  /** Records a span measured elsewhere (a micro-batch phase, a job). */
  def record(name: String, start: Double, end: Double, parent: Int): Unit =
    if (enabled && !quiet) {
      val id = newId()
      synchronized { spans += Span(id, parent, name, start, end) }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the part of it that
    * child layer spans cover. Spark jobs are children for attribution
    * only; their time is the submitting layer's own work. */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val kids = ss.filter(s => s.parent != 0 && s.name != Tracer.JobSpan).groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
        }._1
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Sum of self times of the spans named `name`. */
  def selfSeconds(name: String): Double = {
    val self = selfTimes
    all.filter(_.name == name).map(s => self(s.id)).sum
  }

  def toJson: String = all.sortBy(_.start).map { s =>
    f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start":${s.start}%.6f,"end":${s.end}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProp = "perfbench.span"
  val JobSpan = "spark.job"
}

/** Task-level counters summed over the tasks of one span's jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, spill, recordsRead = 0L
  /** Per completed stage with at least two tasks: max task run time
    * over median task run time. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; recordsRead += o.recordsRead
    stageSkew ++= o.stageSkew
  }
}

/** Registered in traced runs only. Turns each Spark job into a child
  * span of the layer span that submitted it, and sums task metrics per
  * submitting span. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = TrieMap.empty[Int, Int]
  private val jobStartMs = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageTaskMs = TrieMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val bySpan = TrieMap.empty[Int, Counters]

  private def countersOfStage(stageId: Int): Counters =
    bySpan.getOrElseUpdate(stageJob.get(stageId).flatMap(jobSpan.get).getOrElse(0), new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    synchronized(bySpan.getOrElseUpdate(span, new Counters).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    tracer.record(Tracer.JobSpan, jobStartMs.getOrElse(e.jobId, e.time) / 1e3, e.time / 1e3,
      jobSpan.getOrElse(e.jobId, 0))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = countersOfStage(e.stageId)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = countersOfStage(id)
    c.stages += 1
    stageTaskMs.remove(id).map(_.sorted).filter(_.size >= 2).foreach { ts =>
      val med = ts(ts.size / 2)
      if (med > 0) c.stageSkew += ts.last.toDouble / med
    }
  }

  /** Counters of every span whose name satisfies `p`. Call after
    * [[org.apache.spark.PerfbenchAccess.drainListeners]]. */
  def sum(tracer: Tracer)(p: String => Boolean): Counters = synchronized {
    val ids = tracer.all.filter(s => p(s.name)).map(_.id).toSet
    val out = new Counters
    bySpan.foreach { case (id, c) => if (ids(id)) out += c }
    out
  }
}
