package graft.quality

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Data-freshness healthcheck
  * (reference: airflow/dags/ingest_healthcheck.py:13-33 — fail unless
  * ≥1 raw object under today's partition was modified within the last
  * `lookbackMin` minutes; early-exit on first hit).
  *
  * Implemented against the Hadoop FileSystem metadata listing (the
  * exists-semantics early exit of S9/A8): no data is read, only the
  * partition directory's file statuses — same I/O profile as the
  * reference's `list_objects_v2` prune. It needs a Hadoop
  * `Configuration`, not a session: `FreshnessMain` starts none.
  */
object Freshness {

  /** @return true iff a file under `root/date=<day>/` has modification
    *         time ≥ `nowMillis - lookbackMin`. */
  def isFresh(conf: Configuration, root: String, day: String,
              lookbackMin: Int, nowMillis: Long): Boolean = {
    val dir = new Path(s"$root/date=$day")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return false
    val cutoff = nowMillis - lookbackMin.toLong * 60000L
    val it = fs.listFiles(dir, true)
    var fresh = false
    while (!fresh && it.hasNext) { // early exit: first hit wins (A8)
      fresh = it.next().getModificationTime >= cutoff
    }
    fresh
  }

  /** The same check on a session's Hadoop conf. */
  def isFresh(spark: SparkSession, root: String, day: String,
              lookbackMin: Int = 20,
              nowMillis: Long = System.currentTimeMillis()): Boolean =
    isFresh(spark.sparkContext.hadoopConfiguration, root, day, lookbackMin, nowMillis)

  /** Reference DAG behavior: raise on stale
    * (ingest_healthcheck.py:32-33). */
  def check(conf: Configuration, root: String, day: String,
            lookbackMin: Int = 20): Unit =
    if (!isFresh(conf, root, day, lookbackMin, System.currentTimeMillis()))
      throw new IllegalStateException(
        s"No fresh raw object under $root/date=$day in last $lookbackMin min")
}
