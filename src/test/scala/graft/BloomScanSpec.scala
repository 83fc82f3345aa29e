package graft

import graft.operators.BloomScan
import org.apache.spark.sql.functions._

class BloomScanSpec extends SparkSpec {

  test("bloom layout: every row group carries a user_id bloom filter") {
    val path = BloomScan.ensureBloomLayout(spark, sf)
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    var groups = 0
    parts.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.forEach { block =>
          groups += 1
          val cc = block.getColumns.stream()
            .filter(c => c.getPath.toDotString == "user_id")
            .findFirst().get()
          assert(cc.getBloomFilterOffset >= 0,
            s"row group in ${p.getName} lacks a user_id bloom filter")
          // the filter must actually deserialize and answer membership
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
          assert(bf != null)
        }
      } finally reader.close()
    }
    assert(groups > 1, "fixture layout should produce multiple row groups")
  }

  test("bloomScan equals the same rollup over the raw fixture") {
    import graft.model.Kpis.isPurchase
    val expected = Tables.load(spark, sf, "events")
      .where(col("user_id").isin(BloomScan.ProbeUsers: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(isPurchase(col("event_type")), 1L).otherwise(0L)).as("n_purchases"),
        graft.functions.F.roundBin(
          sum(when(isPurchase(col("event_type")), coalesce(col("value"), lit(0.0)))
            .otherwise(0.0)), 2).as("revenue_usd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val got = BloomScan.bloomScan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.sameElements(expected))
    assert(got.nonEmpty)
  }

  test("the IN probe reaches the parquet scan as a pushed filter") {
    val plan = BloomScan.bloomScan(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(user_id"),
      s"expected pushed In filter, got:\n$plan")
  }
}
