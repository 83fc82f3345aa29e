package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one memo for derived artifacts — table metadata, layout zones,
  * indexes, member maps, centroids, pair manifests — and the temp
  * directories they are written to.
  *
  * Every entry is keyed on the SparkContext's applicationId, the table
  * dir, the artifact kind, its source tables and the call's knobs, and
  * it records the [[snapshotId]] of each source it was built from. A lookup
  * whose sources have changed since rebuilds and replaces the entry, so
  * no memoized result outlives a change to the tables it came from.
  * Replacing drops the last reference to the old value; a checkpointed
  * DataFrame's blocks then become ContextCleaner-collectable, and a
  * replaced zone's directory goes with the other [[tempDir]]s at exit.
  * Concurrent first calls may both build; the last one stays.
  */
object Artifacts {
  private final case class Key(kind: String, app: String, dir: String, sources: Seq[String],
      knobs: Seq[Any])
  private final case class Entry(snapshots: Seq[String], value: Any)
  private val entries = TrieMap.empty[Key, Entry]
  /** Per-kind counts: builds, hits and build nanoseconds. */
  private final class Stats { val builds, hits, buildNanos = new AtomicLong }
  private val stats = TrieMap.empty[String, Stats]

  /** The artifact `kind` for (`dir`, `knobs`) built from the tables
    * `sources` under `dir`: the memoized value while every source's
    * snapshot is unchanged, else `build`'s, which replaces it. */
  def memo[T](kind: String, spark: SparkSession, dir: String, sources: Seq[String],
      knobs: Any*)(build: => T): T = {
    val key = Key(kind, spark.sparkContext.applicationId, dir, sources, knobs)
    val snapshots = sources.map(snapshotId(spark, dir, _))
    val st = stats.getOrElseUpdate(kind, new Stats)
    entries.get(key) match {
      case Some(Entry(s, v)) if s == snapshots =>
        st.hits.incrementAndGet()
        v.asInstanceOf[T]
      case _ =>
        val t0 = System.nanoTime()
        val v = build
        st.buildNanos.addAndGet(System.nanoTime() - t0)
        st.builds.incrementAndGet()
        entries.put(key, Entry(snapshots, v))
        v
    }
  }

  /** How many times `kind` has been built in this JVM. */
  private[graft] def buildCount(kind: String): Long = stats.get(kind).fold(0L)(_.builds.get)

  /** How many lookups of `kind` in this JVM were served from the memo. */
  private[graft] def hitCount(kind: String): Long = stats.get(kind).fold(0L)(_.hits.get)

  /** Wall seconds spent building `kind` in this JVM, summed over its
    * builds (a nested artifact's build time is also in its consumer's). */
  private[graft] def buildSeconds(kind: String): Double =
    stats.get(kind).fold(0L)(_.buildNanos.get) / 1e9

  /** Drops the `kind` entries for `dir` whose knobs match `stale`: for a
    * store that deletes what those entries point at, so a later lookup
    * rebuilds instead of handing out a deleted path. */
  private[graft] def forget(kind: String, dir: String)(stale: Seq[Any] => Boolean): Unit =
    entries.keys.foreach(k => if (k.kind == kind && k.dir == dir && stale(k.knobs)) entries.remove(k))

  /** Snapshot id of `table` under `dir`: a 128-bit digest of its data
    * files' (path, size, mtime) listing. Listing-only, no data read; a
    * table format would supply its own snapshot id here. Resolved
    * through the Hadoop FileSystem API, so `file:`, hdfs:// and s3a://
    * dirs work alike. */
  def snapshotId(spark: SparkSession, dir: String, table: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val root = new HPath(dir, s"$table.parquet")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no $table table under $dir")
    def walk(p: HPath): Vector[FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) fs.listStatus(p).toVector.flatMap(c => walk(c.getPath))
      else Vector(st)
    }
    // Paths are digested relative to the table root: a fully-qualified
    // path would make the id depend on how the dir was addressed
    // ('/data/x', 'file:/data/x' or an NN-qualified hdfs URI). The root
    // URI comes from the same FileSystem as the children, so relativize
    // is exact.
    val rootUri = fs.getFileStatus(root).getPath.toUri
    val sig = walk(root)
      .map(st => (rootUri.relativize(st.getPath.toUri).toString, st))
      .sortBy(_._1)
      .map { case (rel, st) => s"$rel|${st.getLen}|${st.getModificationTime}" }
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val exitDeletes = new ConcurrentLinkedQueue[Path]()
  // Hadoop's hook manager runs hooks by descending priority: Spark's
  // own hook (which stops the context and its streams) runs at 40 and
  // the FileSystem cache closes at 10, so the trees go after the last
  // writer has stopped.
  private lazy val deleteAtExit: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => exitDeletes.forEach { p =>
        try deleteRecursively(p)
        catch { case e: Exception => System.err.println(s"[artifacts] could not delete $p: $e") }
      }, 30)

  /** A new directory under `java.io.tmpdir` whose whole tree is deleted
    * when the JVM exits (`File.deleteOnExit` cannot delete a non-empty
    * directory). */
  def tempDir(prefix: String): Path = {
    deleteAtExit
    val d = Files.createTempDirectory(prefix)
    exitDeletes.add(d)
    d
  }

  /** Deletes a file tree bottom-up. A missing path is a no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
