package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ExperimentQueries, ForecastQueries}

/** The count-grid queries pin their small aggregate with a local
  * checkpoint and read it from several consumers. A checkpoint made
  * lazily is materialized by a later job, after the plan that owns its
  * SQL metrics can be garbage collected: the DAGScheduler then logs
  * `Failed to update accumulator ... (Unknown class)` for every task
  * of that job and the task metrics are lost. Whether it shows depends
  * on when the collector runs, so the spec keeps it running while the
  * queries execute and counts the scheduler's lines.
  */
class CheckpointMetricsSpec extends SparkSpec {

  /** Formatted messages of WARN and above logged while `body` ran. */
  private def logged(body: => Unit): Seq[String] = {
    val lines = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally { root.removeAppender("capture"); ctx.updateLoggers(); app.stop() }
    lines.asScala.toSeq
  }

  /** Runs `body` while another thread keeps requesting full GCs, so a
    * collection lands between any two of its jobs. */
  private def underGcPressure(body: => Unit): Unit = {
    @volatile var running = true
    val gc = new Thread(() => while (running) { System.gc(); Thread.sleep(50) })
    gc.setDaemon(true)
    gc.start()
    try body finally { running = false; gc.join() }
  }

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "driftPsi" -> ExperimentQueries.driftPsi,
    "featureAssoc" -> ExperimentQueries.featureAssoc,
    "ksDrift" -> ExperimentQueries.ksDrift,
    "stlDecompose" -> ForecastQueries.stlDecompose)

  for ((name, q) <- queries) test(s"$name loses no accumulator update under GC pressure") {
    spark.sparkContext.setLogLevel("WARN")
    val lines = logged(underGcPressure(for (_ <- 1 to 2) q(spark, sf).collect()))
    val lost = lines.filter(l => l.contains("Failed to update accumulator") ||
      l.contains("non-existent accumulator") || l.contains("garbage collected accumulator"))
    assert(lost.size === 0, s"lost-accumulator lines, first: ${lost.headOption.getOrElse("")}")
  }
}
