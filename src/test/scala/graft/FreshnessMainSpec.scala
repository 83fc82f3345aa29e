package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String

/** Runs `FreshnessMain` on a fresh day and on a stale one in this JVM,
  * then prints what each run did and whether a Spark context, a
  * session or Spark's case table was left behind: run by [[FreshnessMainSpec]] in a JVM of
  * its own, since the suite's shared session exists from the start. */
object FreshnessMainProbe {
  @annotation.nowarn("cat=deprecation") // Unsafe.shouldBeInitialized: the JDK's only probe
  def main(args: Array[String]): Unit = {
    val root = args(0)
    def run(day: String) = Try(jobs.FreshnessMain.main(Array(root, "--date", day)))
    println(s"fresh: ${run("2024-01-01").isSuccess}")
    println(s"stale: ${run("2024-01-02").failed.toOption.exists(_.isInstanceOf[IllegalStateException])}")
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    def initialized(c: Class[_]) = !unsafe.shouldBeInitialized(c)
    // a stopped session clears the default one, so also ask whether a
    // SparkContext was ever constructed: that initializes its class
    // (reading the Spark conf initializes only its companion object)
    println(s"context: ${initialized(classOf[org.apache.spark.SparkContext])}")
    println(s"session: ${SparkSession.getDefaultSession.isDefined}")
    println(s"initialized: ${initialized(classOf[CollationAwareUTF8String])}")
  }
}

class FreshnessMainSpec extends SparkSpec {
  test("FreshnessMain answers from a listing without starting a session") {
    val root = Files.createTempDirectory("graft-freshness-main")
    val log = Files.createTempFile("graft-freshness-main", ".log")
    try {
      val fresh = Files.createDirectories(root.resolve("date=2024-01-01/hour=00"))
      Files.writeString(fresh.resolve("part-0.json"), "{}\n")
      val stale = Files.createDirectories(root.resolve("date=2024-01-02/hour=00"))
      Files.writeString(stale.resolve("part-0.json"), "{}\n")
      Files.setLastModifiedTime(stale.resolve("part-0.json"),
        java.nio.file.attribute.FileTime.fromMillis(0L))
      // the module opens and settings this JVM was started with (build.sbt)
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx1g") ++
        jvmArgs ++ Seq("-cp", sys.props("java.class.path"), "graft.FreshnessMainProbe", root.toString)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
      val exit = p.waitFor()
      val out = Files.readString(log)
      assert(exit === 0, out.takeRight(4000))
      val seen = out.linesIterator.collect { case l if l.contains(": ") =>
        val Array(k, v) = l.split(": ", 2); k -> v }.toMap
      assert(seen.get("fresh").contains("true"), out.takeRight(4000))
      assert(seen.get("stale").contains("true"), "a stale day did not throw IllegalStateException")
      assert(seen.get("context").contains("false"), "FreshnessMain started a SparkContext")
      assert(seen.get("session").contains("false"), "FreshnessMain left a SparkSession")
      assert(seen.get("initialized").contains("false"),
        "FreshnessMain built Spark's case table (a session's warm-up)")
    } finally {
      Artifacts.deleteRecursively(root)
      Files.deleteIfExists(log)
    }
  }
}
