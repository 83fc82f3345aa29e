package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String

/** Builds a session and runs no query, then prints whether Spark's
  * `CollationAwareUTF8String` is initialized: run by
  * [[CaseTableWarmupSpec]] in a JVM of its own, since the suite's shared
  * session has long since initialized it. `graft` builds
  * [[Tables.session]] and joins its warm-up thread; `plain` builds a
  * stock session with no graft code. */
object CaseTableWarmupMain {
  @annotation.nowarn("cat=deprecation") // Unsafe.shouldBeInitialized: the JDK's only probe
  def main(args: Array[String]): Unit = {
    val spark = args(0) match {
      case "graft" =>
        val s = Tables.session("local[2]")
        Tables.caseTableWarmup.join()
        s
      case "plain" =>
        SparkSession.builder().master("local[2]").appName("graft-warmup-control")
          .config("spark.ui.enabled", "false").getOrCreate()
    }
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    println(s"initialized: ${!unsafe.shouldBeInitialized(classOf[CollationAwareUTF8String])}")
    spark.stop()
  }
}

class CaseTableWarmupSpec extends SparkSpec {
  private def initializedIn(mode: String): Boolean = {
    val log = Files.createTempFile("graft-warmup-spec", ".log")
    try {
      // the module opens and settings this JVM was started with (build.sbt)
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx1g") ++
        jvmArgs ++ Seq("-cp", sys.props("java.class.path"), "graft.CaseTableWarmupMain", mode)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
      val exit = p.waitFor()
      val out = Files.readString(log)
      assert(exit === 0, out.takeRight(4000))
      out.linesIterator.find(_.startsWith("initialized: ")).get.stripPrefix("initialized: ").toBoolean
    } finally Files.deleteIfExists(log)
  }

  test("Tables.session builds the case table before any query runs") {
    assert(initializedIn("graft"), "the warm-up thread did not initialize CollationAwareUTF8String")
  }

  test("a stock session leaves the case table unbuilt until a query lowercases") {
    assert(!initializedIn("plain"), "a stock session build already initializes the class")
  }
}
