package graft

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}

import graft.jobs.DailyKpisMain
import graft.sources.LocalFs
import graft.streaming.RawIngest

/** Regression guard for the fork-free `file:` layer: a JFR recording of
  * process starts around a streaming ingest (JSON sink + checkpoint)
  * and the KPI parquet write must show no `chmod` or `readlink` on the
  * spec's directories. Stock Hadoop without `libhadoop` forks hundreds
  * here. The session's layer is first displaced by a stock instance in
  * Hadoop's JVM-wide `FileSystem` cache, as a `file:` lookup made before
  * the session was built would leave it, so the guard also proves
  * [[LocalFs.apply]] wins that cache.
  */
class LocalFsForkSpec extends SparkSpec {

  private def tmp(prefix: String): NioPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("ingest and the KPI write fork no chmod or readlink, even after a stock file: was cached") {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).close() // evict the session's instance
    val stock = FileSystem.get(FsConstants.LOCAL_FS_URI, new Configuration())
    assert(!stock.isInstanceOf[LocalFs.FileSystem], "a plain conf must cache the stock class")
    LocalFs(spark)
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[LocalFs.FileSystem])
    assert(stock.getFileStatus(new Path(sys.props("java.io.tmpdir"))).isDirectory,
      "the evicted instance stays usable")

    // two days × 24 hours of events: one JSON file per (date, hour) bucket
    val in = tmp("graft-fork-in")
    for (d <- 1 to 2; h <- 0 until 24)
      Files.writeString(in.resolve(f"events-$d-$h%02d.json"),
        f"""{"event_ts":"2024-01-0${d}T$h%02d:15:00Z","user_id":"u$h","session_id":"s$d$h","event_type":"pageview","price":null}""" + "\n")
    val (raw, ck, kpi, control) = (tmp("graft-fork-raw"), tmp("graft-fork-ck"), tmp("graft-fork-kpi"),
      tmp("graft-fork-control"))
    val stockRaw = new LocalFileSystem(new RawLocalFileSystem)
    stockRaw.initialize(FsConstants.LOCAL_FS_URI, new Configuration())

    val commands = processStarts {
      RawIngest.runOnce(spark, in.toString, raw.toString, ck.toString)
      DailyKpisMain.run(spark, raw.toString, kpi.toString, Map("all-days" -> "true"))
      // control: the stock layer's fork shows up in the recording
      stockRaw.create(new Path(control.toString, "file")).close()
    }
    def forksUnder(dir: NioPath) = commands.filter(c =>
      (c.contains("chmod") || c.contains("readlink")) && c.contains(dir.toString))
    assert(forksUnder(control).nonEmpty, s"recording saw no stock chmod: $commands")
    val forks = Seq(in, raw, ck, kpi).flatMap(forksUnder)
    assert(forks.size === 0, s"chmod/readlink forks, e.g. ${forks.take(3)}")
    assert(spark.read.parquet(kpi.toString).count() === 2L)
  }
}
