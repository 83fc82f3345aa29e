package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

/** The harness on the smoke fixture: the zone builders keep the shapes
  * their ratios depend on, every sweep builds a record shaped like the
  * committed one, and the bench line keeps the committed bench.json keys.
  */
class ProbeSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def rows(dir: String, t: String): Long = Tables.load(spark, dir, t).count()

  test("skew zone: every table keeps its row count, pass-through tables are byte-identical") {
    val zone = Probe.skewZone(spark, sf)
    try {
      tables.foreach(t => assert(rows(zone, t) === rows(sf, t), t))
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach { t =>
          assert(Files.mismatch(Paths.get(sf, s"$t.parquet"),
            Paths.get(zone, s"$t.parquet")) === -1L, t)
        }
    } finally Artifacts.deleteRecursively(Paths.get(zone))
  }

  test("decade zone: 10x rows, 10x embedding width, cross-copy dot 0, within-copy cosine bit-identical") {
    val zone = Probe.decadeZone(spark, sf)
    try {
      Seq("events", "documents", "embeddings")
        .foreach(t => assert(rows(zone, t) === 10 * rows(sf, t), t))
      def vecs(dir: String) = Tables.load(spark, dir, "embeddings")
      val d = vecs(sf).select(size(col("embedding"))).head().getInt(0)
      assert(vecs(zone).select(size(col("embedding"))).distinct()
        .collect().map(_.getInt(0)).toSeq === Seq(10 * d))

      val Seq(a, b) = vecs(sf).orderBy(col("vec_id")).limit(2)
        .collect().map(_.getLong(0)).toSeq
      val stride = 10000000L
      def vec(id: Long): Array[Float] = vecs(zone).where(col("vec_id") === id)
        .head().getSeq[Float](1).toArray
      val cross = vec(a).zip(vec(b + 3 * stride)).map { case (x, y) => x.toDouble * y }.sum
      assert(cross === 0.0)

      def cos(dir: String, l: Long, r: Long): Double =
        vecs(dir).as("l").join(vecs(dir).as("r"))
          .where(col("l.vec_id") === l && col("r.vec_id") === r)
          .select(graft.functions.F.cosineSim(col("l.embedding"), col("r.embedding")))
          .head().getDouble(0)
      val base = cos(sf, a, b)
      (0 until 10).foreach { k =>
        val c = cos(zone, a + k * stride, b + k * stride)
        assert(java.lang.Double.doubleToRawLongBits(c) ===
          java.lang.Double.doubleToRawLongBits(base), s"copy $k: $c vs $base")
      }
    } finally Artifacts.deleteRecursively(Paths.get(zone))
  }

  private val json = new ObjectMapper()
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq
  private def committed(file: String): JsonNode =
    json.readTree(Files.readString(Paths.get(sys.props("user.dir"), file)))

  /** Same top-level keys as the committed record, and every query the
    * one-query slate produced has the committed per-query keys. */
  private def assertShape(line: String, file: String): JsonNode = {
    val (built, ref) = (json.readTree(line), committed(file))
    assert(keys(built) === keys(ref))
    val qs = keys(built.get("queries"))
    assert(qs.nonEmpty)
    qs.foreach(q => assert(keys(built.get("queries").get(q)) === keys(ref.get("queries").get(q)), q))
    built
  }

  test("scaling record has the committed shape, stream curves included") {
    val built = assertShape(Probe.scaling(spark,
      Seq("sf0.001", "sf0.01", "sf0.1").map(_ -> sf), Seq("q_kpi_daily")), "scaling.json")
    assert(keys(built.get("queries")) === Seq("q_kpi_daily", "q_stream_neardup_build",
      "q_stream_neardup_incr", "q_stream_upsert_build", "q_stream_upsert_incr"))
    keys(built.get("queries")).foreach(q => assert(built.get("queries").get(q).get("sf0.1").isNumber, q))
  }

  test("decade record has the committed shape, streams included") {
    val built = assertShape(Probe.decade(spark, sf, Seq("q_kpi_daily")), "decade.json")
    assert(keys(built.get("streams")) === keys(committed("decade.json").get("streams")))
    assert(built.get("queries").get("q_kpi_daily").get("rows_sf1").asLong() > 0)
  }

  test("skew record has the committed shape") {
    val built = assertShape(Probe.skew(spark, sf, Seq("q_kpi_daily")), "skew_probe.json")
    assert(keys(built.get("zone")) === keys(committed("skew_probe.json").get("zone")))
  }

  test("bench line: the committed keys in order, null for a failed query, '.' decimals under a comma locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val line = Bench.record(Map("q_a" -> Some(Seq(0.1, 0.2, 1.5)),
        "q_raw_kpis" -> Some(Seq(1.0, 1.25, 1.5)), "q_b" -> None),
        floor = 0.1234, sfDir = "/data/sf", attempts = 2, timedWall = 10.0, timedSteal = 0.5,
        stealTotal = 0.75)
      val n = json.readTree(line)
      assert(keys(n) === Seq("metric", "value", "unit", "floor_sec", "operators_sec",
        "pipelines_sec", "pipeline_queries", "failed_queries", "steal_sec", "timed_wall_sec",
        "steal_total_sec", "attempts", "contaminated", "variance_flagged", "queries", "sf", "mode"))
      assert(keys(n) === keys(committed("bench.json")))
      assert(n.get("queries").get("q_b").isNull)
      assert(n.get("failed_queries").asScala.map(_.asText).toSeq === Seq("q_b"))
      assert(keys(n.get("variance_flagged")) === Seq("q_a"))
      Seq("\"value\":1.450,", "\"floor_sec\":0.123,", "\"operators_sec\":0.200,",
        "\"pipelines_sec\":1.250,", "\"q_a\":[0.100,0.200,1.500]", "\"contaminated\":false,")
        .foreach(f => assert(line.contains(f), f))
    } finally java.util.Locale.setDefault(saved)
  }

  test("every slate names declared queries; a misspelling is reported") {
    assert(Measure.unknownQueries(Probe.ScalingSlate ++ Probe.DecadeSlate ++ Probe.SkewSlate).isEmpty)
    assert(Measure.unknownQueries(Seq("q_kpi_daily", "q_kpi_dialy")) === Seq("q_kpi_dialy"))
  }
}
