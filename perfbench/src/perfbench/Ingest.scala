package perfbench

import java.time.Instant
import scala.jdk.CollectionConverters._

/** One AvailableNow ingest through `RawIngest.fromFiles`/`start`, resumed
  * from `checkpoint` if it exists. Traced, it records the start call and
  * each micro-batch phase from `recentProgress` as child spans of
  * `streaming.ingest`, laid out in the order Spark runs them. */
object Ingest {
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** @return seconds spent, from building the stream to its termination. */
  def run(ctx: Ctx, o: Outcome, landing: String, raw: String, checkpoint: String,
          maxFilesPerTrigger: Option[Int]): Double = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    t.span("streaming.ingest") {
      val s0 = t.now()
      val q = graft.streaming.RawIngest.start(
        graft.streaming.RawIngest.fromFiles(ctx.spark, landing, maxFilesPerTrigger), raw, checkpoint)
      t.record("streaming.start", s0, t.now(), t.current)
      q.awaitTermination()
      val progress = q.recentProgress.toSeq
      o.add("streaming.batches", progress.count(_.numInputRows > 0).toDouble)
      o.add("streaming.empty_batches", progress.count(_.numInputRows == 0).toDouble)
      o.add("streaming.rows_in", progress.map(_.numInputRows).sum.toDouble)
      if (t.enabled) progress.foreach { p =>
        var at = Instant.parse(p.timestamp).toEpochMilli / 1e3
        val ms = p.durationMs.asScala
        Phases.foreach { ph =>
          ms.get(ph).foreach { d =>
            t.record(s"streaming.$ph", at, at + d / 1e3, t.current)
            at += d / 1e3
          }
        }
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Files, bytes and `date=/hour=` directories of the raw zone. */
  def rawZoneCounts(o: Outcome, raw: String): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(raw))
    try {
      val data = files.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          p.toString.contains("date=")
      }.toSeq
      o.add("streaming.files_out", data.size.toDouble)
      o.add("streaming.bytes_out", data.map(java.nio.file.Files.size(_).toDouble).sum)
      o.add("streaming.partition_dirs", data.map(_.getParent).distinct.size.toDouble)
    } finally files.close()
  }
}
