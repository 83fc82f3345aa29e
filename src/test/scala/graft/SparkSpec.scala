package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` —
  * Test/fork := true — so a single lazy session amortizes startup).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the file: storage layer production sessions use (Tables.session)
    graft.sources.LocalFs(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  /** t1 smoke fixtures (TESTDATA.md). */
  val sf: String = "/root/testdata/sf0.001"
}
