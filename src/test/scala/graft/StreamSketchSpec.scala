package graft

import org.apache.spark.sql.functions._
import graft.operators.PipelineQueries

/** Continuous sketch-table maintenance (ST12 × E6): after an
  * incremental multi-batch drain, every day's stored sketch must
  * estimate what a from-scratch build over the same rows, split into
  * sketches another way, estimates; a second drain must touch only the
  * days it has data for; and replaying batches the table already holds
  * must change no stored estimate.
  */
class StreamSketchSpec extends SparkSpec {

  test("incrementally maintained sketch table equals a from-scratch build") {
    val (got, nBatches) = PipelineQueries.streamSketchTableCounted(spark, sf)
    assert(nBatches >= 2, s"expected an incremental drain, got $nBatches batch(es)")
    val gotRows = got.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // from-scratch: same zone rows (wire shape — user_id is a STRING
    // there, and hashing is type-sensitive), chopped differently from
    // the drain's file batches: three sketches per day by event_id % 3,
    // then folded
    val exp = Tables.load(spark, sf, "events")
      .where(to_date(col("ts")) < lit(PipelineQueries.StreamCutoff))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("event_id") % 3)
      .agg(hll_sketch_agg(col("user_id").cast("string"), 12).as("sk"))
      .groupBy(col("dt"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotRows.keySet === exp.keySet, s"day sets differ: $gotRows vs $exp")
    gotRows.foreach { case (dt, est) =>
      assert(est === exp(dt),
        s"$dt: incremental estimate $est != from-scratch ${exp(dt)} — merge lost information")
    }
    // sanity: estimates are near the exact per-day distincts
    val exact = Tables.load(spark, sf, "events")
      .where(to_date(col("ts")) < lit(PipelineQueries.StreamCutoff))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    gotRows.foreach { case (dt, est) =>
      val err = math.abs(est - exact(dt)).toDouble / math.max(1, exact(dt))
      assert(err <= 0.06, s"$dt: est=$est exact=${exact(dt)} err=$err")
    }
  }

  private def line(dt: String, user: Int): String =
    s"""{"event_ts": "${dt}T10:00:0${user % 10}Z", "user_id": "u$user", """ +
      s""""session_id": "s$user", "event_type": "view", "price": 1.0}"""

  test("replaying batches the table already holds changes no stored estimate") {
    val Seq(in, out, ck, ck2) = Seq("in", "out", "ck", "ck2")
      .map(n => Artifacts.tempDir(s"graft-skreplay-$n"))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(in.resolve(name), lines.mkString("", "\n", "\n"))
    // day 1 stays a small coupon-list sketch; day 2's 1200 users arrive
    // in two batches, so its stored sketch is a merge in HLL mode
    writeFile("f1.jsonl", (1 to 8).map(line("2024-03-01", _)) ++ (1 to 600).map(line("2024-03-02", _)))
    writeFile("f2.jsonl", (601 to 1200).map(line("2024-03-02", _)))
    def table(): Seq[(String, Long, Seq[Byte])] = spark.read.parquet(out.toString)
      .select(col("dt").cast("string"), hll_sketch_estimate(col("sk")), col("sk")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSeq.sortBy(_._1)
    val n1 = PipelineQueries.sketchMaintenanceDrain(spark, in.toString, out.toString, ck.toString)
    assert(n1 >= 2, s"expected >=2 maintenance batches, got $n1")
    val before = table()
    val users = before.groupMapReduce(_._1)(_._2)(_ + _)
    assert(users("2024-03-01") === 8L && math.abs(users("2024-03-02") - 1200L) <= 60L,
      s"estimates: $users")
    // a lost checkpoint replays every batch into the same table
    val n2 = PipelineQueries.sketchMaintenanceDrain(spark, in.toString, out.toString, ck2.toString)
    assert(n2 === n1, s"replay ran $n2 batches, first drain $n1")
    val after = table()
    assert(after.map(r => (r._1, r._2)) === before.map(r => (r._1, r._2)),
      "replaying merged batches changed the stored estimates")
    // an HLL-mode merge is a register max, so its bytes are stable too
    // (a coupon-mode sketch may come back with its hash set permuted)
    def day2(t: Seq[(String, Long, Seq[Byte])]) = t.filter(_._1 == "2024-03-02").map(_._3)
    assert(day2(after) === day2(before), "replay changed the HLL-mode sketch's bytes")
  }

  test("second drain rewrites only the day partitions with new data (O(new data), r8)") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft-sksync-spec-in")
    val out = Files.createTempDirectory("graft-sksync-spec-out")
    val ck = Files.createTempDirectory("graft-sksync-spec-ck")
    Seq(in, out, ck).foreach(_.toFile.deleteOnExit())
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.writeString(in.resolve(name), lines.mkString("", "\n", "\n"))
    // drain 1: two day files
    writeFile("f1.jsonl", (1 to 8).map(line("2024-03-01", _)))
    writeFile("f2.jsonl", (1 to 6).map(line("2024-03-02", _)))
    val n1 = PipelineQueries.sketchMaintenanceDrain(
      spark, in.toString, out.toString, ck.toString)
    assert(n1 >= 2, s"expected >=2 maintenance batches, got $n1")
    def partFiles(dt: String): Map[String, (Long, Long)] = {
      val d = out.resolve(s"dt=$dt").toFile
      assert(d.isDirectory, s"missing partition dt=$dt")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.lastModified(), f.length()))).toMap
    }
    val day1Before = partFiles("2024-03-01")
    val day2Before = partFiles("2024-03-02")
    // drain 2, SAME checkpoint: one new file touching day 2 + a new day 3
    writeFile("f3.jsonl",
      (7 to 12).map(line("2024-03-02", _)) ++ (1 to 4).map(line("2024-03-03", _)))
    val n2 = PipelineQueries.sketchMaintenanceDrain(
      spark, in.toString, out.toString, ck.toString)
    assert(n2 >= 1, s"second drain processed nothing (got $n2 batches)")
    // untouched day: byte-for-byte the same files (names, mtimes, sizes)
    assert(partFiles("2024-03-01") === day1Before,
      "day partition WITHOUT new data was rewritten — maintenance is not O(new data)")
    // touched day rewritten; new day created
    assert(partFiles("2024-03-02") !== day2Before, "touched day was not rewritten")
    assert(partFiles("2024-03-03").nonEmpty, "new day partition missing after second drain")
    // the incrementally maintained sketches still count everything
    // seen so far (exact at these sizes)
    val gotRows = spark.read.parquet(out.toString)
      .select(col("dt").cast("string").as("dt"),
        hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotRows === Map("2024-03-01" -> 8L, "2024-03-02" -> 12L, "2024-03-03" -> 4L),
      s"incremental estimates: $gotRows")
  }
}
