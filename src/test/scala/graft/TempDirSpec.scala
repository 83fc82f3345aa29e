package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.{PipelineQueries, SortedLayout}

/** Builds a layout zone, a wire-feed zone and a streaming gate's output
  * and checkpoint dirs, then exits: run by [[TempDirSpec]] in a JVM of
  * its own with `java.io.tmpdir` pointed at an empty directory. Prints
  * the `graft-` entries made there before the JVM exits. */
object TempDirMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graft-tempdir")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    graft.sources.LocalFs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    SortedLayout.ensureSorted(spark, args(0))
    PipelineQueries.streamDedup(spark, args(0)).collect()
    val made = Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-")).toSeq.sorted
    println(s"made: ${made.mkString(" ")}")
  }
}

class TempDirSpec extends SparkSpec {
  test("zones, checkpoints and outputs are deleted when the JVM exits") {
    val tmp = Files.createTempDirectory("graft-tempdir-spec")
    val log = Files.createTempFile("graft-tempdir-spec", ".log")
    try {
      // the module opens and settings this JVM was started with (build.sbt)
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx1g",
        s"-Djava.io.tmpdir=$tmp") ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.TempDirMain", sf)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
      val exit = p.waitFor()
      val out = Files.readString(log)
      assert(exit === 0, out.takeRight(4000))
      val made = out.linesIterator.find(_.startsWith("made: ")).get.stripPrefix("made: ").split(" ")
      assert(made.exists(_.startsWith("graft-sorted")) && made.exists(_.startsWith("graft-dedup-in")) &&
        made.exists(_.startsWith("graft-dedup-ck")), made.mkString(" "))
      val left = Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-")).toSeq
      assert(left.size === 0, s"left behind: ${left.mkString(" ")}")
    } finally { Artifacts.deleteRecursively(tmp); Files.deleteIfExists(log) }
  }
}
