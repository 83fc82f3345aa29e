package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Every memoized artifact follows a change to the tables it was built
  * from. Each case copies sf0.001 to a scratch dir, runs a query that
  * reads the artifact, rewrites the artifact's source table in place in
  * the same session and runs the query again: the second result must
  * differ from the first and equal the query's result on a fresh copy
  * of the rewritten dir, and a third call must reuse the rebuilt entry.
  */
class ArtifactsSpec extends SparkSpec {

  /** Result of a query as sorted strings, so any change shows. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  private def copyOf(dir: String): String = {
    val d = Artifacts.tempDir("graft-memo-spec")
    copyTree(Paths.get(dir), d)
    d.toString
  }

  /** Replaces `table` under `dir` with `change` of its rows. */
  private def rewrite(dir: String, table: String)(change: DataFrame => DataFrame): Unit = {
    val path = Paths.get(dir, s"$table.parquet")
    val staged = Paths.get(dir, s"$table.staged")
    change(spark.read.parquet(path.toString)).write.parquet(staged.toString)
    Artifacts.deleteRecursively(path)
    Files.move(staged, path)
  }

  private def dropThird(key: String): DataFrame => DataFrame =
    _.where(pmod(col(key), lit(3)) =!= 0)

  /** `lookups`: how often one run of `query` asks the memo for `kind`. */
  private case class Case(kind: String, table: String, change: DataFrame => DataFrame,
      query: (SparkSession, String) => Seq[String], lookups: Int = 1)

  private def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => Seq[String] =
    (s, d) => rows(f(s, d))

  private val events = dropThird("event_id")
  private val embeddings = dropThird("vec_id")
  private val documents = dropThird("doc_id")
  private val lineitem = dropThird("l_orderkey")

  private val cases = Seq(
    Case("schema", "events", _.withColumn("extra", lit(1)),
      (s, d) => Tables.load(s, d, "events").columns.toSeq),
    Case("rowCount", "embeddings", embeddings,
      (s, d) => Seq(Tables.rowCount(s, d, "embeddings").toString)),
    Case("zorder-layout", "events", events, q(ZOrderLayout.userTimeBoxKpis)),
    Case("sorted-layout", "events", events, q(SortedLayout.tsRangeKpis)),
    Case("bloom-layout", "events", events, q(BloomScan.bloomScan)),
    Case("bucketed-layout", "lineitem", lineitem, q(BucketedJoin.ordersPerKey)),
    Case("graft-rawkpi", "events", events, q(PipelineQueries.rawKpis)),
    Case("graft-rawzone", "events", events, q(PipelineQueries.prunedKpis)),
    Case("graft-fragzone", "events", events, q(PipelineQueries.compactKpis)),
    Case("graft-csv", "events", events, q(PipelineQueries.csvScan)),
    Case("graft-orc", "lineitem", lineitem, q(PipelineQueries.orcScan)),
    Case("graft-schevo", "orders", dropThird("o_orderkey"), q(PipelineQueries.schemaEvolution)),
    Case("graft-dedup-in", "events", events, q(PipelineQueries.streamDedup)),
    // 3000 extra rows of one order key make it hot under the 5% sample
    Case("hot-keys", "lineitem",
      li => li.unionByName(li.limit(1).crossJoin(spark.range(3000)).drop("id")),
      (s, d) => PipelineQueries.hotKeys(s, d).map(_.toString).toSeq),
    // the recall/precision check and the emitted pairs each read it
    Case("exact-cos-pairs", "embeddings", embeddings, q(VectorQueries.cosineDedupLsh), lookups = 2),
    Case("vec-member-map", "embeddings", embeddings,
      q((s, d) => VectorQueries.memberMapFor(s, d)._1.select("vec_id", "rep_id"))),
    Case("sem-index", "embeddings", embeddings,
      q((s, d) => VectorQueries.semDedupIndex(s, d).select("list_id", "vec_id"))),
    Case("exact-cos-sample", "embeddings", embeddings,
      (s, d) => VectorQueries.exactCosineSamplePairKeys(s, d).map(_.toString).toSeq.sorted),
    Case("brute-top10", "embeddings", embeddings,
      (s, d) => VectorQueries.bruteTop10Rows(s, d).map(_.toString).toSeq),
    Case("centroids", "embeddings", embeddings, q(VectorQueries.trainedCentroids)),
    Case("lsh-index", "embeddings", embeddings, q((s, d) => VectorQueries.annLsh(s, d))),
    Case("vec-zone", "embeddings", embeddings,
      q((s, d) => s.read.text(VectorQueries.vecZone(s, d)))),
    Case("bpe", "documents", documents, q((s, d) => TextQueries.bpeEncode(s, d))),
    Case("substr-fp-index", "documents", documents,
      q((s, d) => TextQueries.dupSubstringsIncremental(s, d))),
    Case("exact-half-pairs", "documents", documents, q(TextQueries.minhashDedup), lookups = 2),
    Case("shingle-df", "documents", documents, q(TextQueries.shingleDf)),
    Case("minhash-member-map", "documents", documents,
      q((s, d) => TextQueries.minhashMemberMap(s, d)._1.select("doc_id", "rep_id"))),
    Case("source-grid", "documents", documents,
      (s, d) => TextQueries.exactSourceGrid(s, d).map(_.toString).toSeq.sorted),
    Case("manifest", "documents", documents, q(DupClusters.canonicalReps)))

  /** Runs `body` with the near-dup manifest store in a fresh temp dir. */
  private def withManifestDir[A](body: Path => A): A = {
    val manifests = Artifacts.tempDir("graft-memo-spec-manifests")
    val prev = sys.props.get("graft.manifest.dir")
    sys.props("graft.manifest.dir") = manifests.toString
    try body(manifests) finally prev match {
      case Some(v) => sys.props("graft.manifest.dir") = v
      case None => sys.props.remove("graft.manifest.dir")
    }
  }

  for (c <- cases)
    test(s"${c.kind} follows an in-place rewrite of ${c.table}") {
      withManifestDir { _ =>
        val dir = copyOf(sf)
        val before = c.query(spark, dir)
        val built = Artifacts.buildCount(c.kind)
        assert(built > 0, s"${c.kind} was not built by its query")
        rewrite(dir, c.table)(c.change)
        val after = c.query(spark, dir)
        val rebuilt = Artifacts.buildCount(c.kind)
        assert(rebuilt > built, s"${c.kind} served a memo built before ${c.table} changed")
        assert(after !== before, "the rewrite must change the query's result")
        assert(after === c.query(spark, copyOf(dir)))
        val reused = Artifacts.buildCount(c.kind)
        val hits = Artifacts.hitCount(c.kind)
        val secs = Artifacts.buildSeconds(c.kind)
        assert(secs > 0, s"${c.kind} builds took no recorded time")
        assert(c.query(spark, dir) === after)
        assert(Artifacts.buildCount(c.kind) === reused, s"${c.kind} rebuilt with no change")
        assert(Artifacts.hitCount(c.kind) === hits + c.lookups, s"${c.kind} reuse was not counted as a hit")
        assert(Artifacts.buildSeconds(c.kind) === secs, s"${c.kind} reuse added build time")
      }
    }

  test("memo keys on the sources and knobs and rebuilds only what a changed table feeds") {
    val dir = copyOf(sf)
    var builds = 0
    def of(table: String, k: Int) =
      Artifacts.memo("spec-keys", spark, dir, Seq(table), k) { builds += 1; s"$table$k" }
    assert(of("orders", 1) === "orders1" && of("orders", 2) === "orders2")
    assert(of("lineitem", 1) === "lineitem1" && of("orders", 1) === "orders1")
    assert(builds === 3, "alternating sources or knobs must not evict each other")
    rewrite(dir, "lineitem")(lineitem)
    assert(of("orders", 1) === "orders1" && of("orders", 2) === "orders2")
    assert(builds === 3, "a change to another table rebuilt an entry")
    assert(of("lineitem", 1) === "lineitem1")
    assert(builds === 4)
  }

  test("a documents rewrite deletes the near-dup manifests of older snapshots") {
    withManifestDir { base =>
      val dir = copyOf(sf)
      def snapshots: Seq[String] = {
        val s = Files.walk(base)
        try s.iterator().asScala.toSeq.filter(_.getFileName.toString == "labels")
          .map(_.getParent.getFileName.toString).sorted
        finally s.close()
      }
      rows(DupClusters.canonicalReps(spark, dir))
      assert(snapshots === Seq(DupClusters.corpusVersion(dir)))
      rewrite(dir, "documents")(documents)
      rows(DupClusters.canonicalReps(spark, dir))
      rewrite(dir, "documents")(_.where(pmod(col("doc_id"), lit(5)) =!= 0))
      val third = rows(DupClusters.canonicalReps(spark, dir))
      assert(snapshots === Seq(DupClusters.corpusVersion(dir)), "older snapshots were left behind")
      assert(third === rows(DupClusters.canonicalReps(spark, copyOf(dir))))
      // a snapshot whose directory was deleted is rebuilt, not read from a memo
      val builds = DupClusters.manifestBuilds.get()
      DupClusters.pairManifestAt(spark, base.toString, dir, "other").count()
      assert(DupClusters.manifestBuilds.get() === builds + 1)
      DupClusters.pairManifestAt(spark, base.toString, dir, DupClusters.corpusVersion(dir)).count()
      assert(DupClusters.manifestBuilds.get() === builds + 2,
        "a deleted snapshot was served from the memo")
    }
  }

  test("no memo outside the registry: TrieMap appears in no other main source") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the checkout root, not ${sys.props("user.dir")}")
    val s = Files.walk(root)
    val offenders = try s.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Artifacts.scala")
      .filter(p => Files.readString(p).contains("TrieMap"))
      .map(root.relativize(_).toString)
    finally s.close()
    assert(offenders.isEmpty, "memoize through graft.Artifacts.memo instead")
  }
}
