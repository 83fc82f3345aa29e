package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERING (SURVEY.md §2.11 E2 completion): the
  * dedup pipeline's final step. Pair detection (MinHash/LSH candidates
  * → exact jaccard verification) yields an EDGE LIST; what a training
  * pipeline actually needs is the partition of documents into
  * duplicate CLUSTERS with one canonical keeper each — a pair list
  * alone can't answer "which docs do I drop" when dups chain
  * (a~b, b~c but a≁c must still collapse to one keeper).
  *
  * Algorithm: alternating large-star / small-star contraction
  * (the two-rule MapReduce CC algorithm published by Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * literature, restated here on DataFrames):
  *
  *  - large-star(u): every strictly-LARGER neighbor of u re-attaches
  *    to m = min(N(u) ∪ {u});
  *  - small-star(u): every smaller-or-equal neighbor of u, and u
  *    itself, re-attaches to m = min(N(u) ∪ {u}).
  *
  * Both rules preserve connectivity, and the alternation provably
  * converges to a forest of stars (every vertex pointing directly at
  * its component minimum) in O(log n) rounds EVEN ON ADVERSARIAL
  * long-chain graphs — unlike plain neighbor-min propagation, whose
  * round count is the component diameter (a 10^6-long chain would
  * take 10^6 rounds; DupClustersSpec pins the log bound on a 10k
  * path). Real near-dup clusters are shallow (2–4 rounds either
  * way); the log bound is the insurance for the graphs you didn't
  * anticipate.
  *
  * Each rule is one hash-partition of the edge list by star center
  * (a window min + map-side re-emit — no join), `localCheckpoint`
  * truncates lineage per round so plan depth stays constant.
  *
  * 100 TB posture: rounds ≤ O(log n); each round shuffles (u, v)
  * long pairs only — never text. Edge rows only ever move DOWNWARD
  * (every rewrite points at a neighborhood minimum), so per-round
  * volume is bounded by the symmetrized edge count and shrinks as
  * stars form.
  */
object DupClusters {

  /** Rounds are O(log n) by the large-star/small-star bound; real dup
    * graphs converge in 2–4. The guard exists so that any future
    * nondeterminism in the edge rules fails the gate fast with a
    * diagnosis instead of hanging the verify/bench run in an infinite
    * loop (star-formation convergence is proven today). */
  private val MaxRounds = 64

  /** Shuffle-partition count for the label-propagation rounds, sized
    * from the symmetrized edge count: each shuffled row is ~24 B of
    * longs (id, comp[, old]), target ≤128 MB per partition, floor 4
    * (gate-scale graphs), cap 2^14. At 100 TB this makes the rounds
    * scale with |edges| instead of inheriting a session-wide constant
    * that is either too small (spill) or too large (task overhead). */
  private[graft] def partitionsForEdges(symEdges: Long): Int = {
    val target = math.ceil(symEdges.toDouble * 24 / (128L << 20)).toInt
    math.min(1 << 14, math.max(4, target))
  }

  /** Driver cutover bound for [[components]]: a canonical edge
    * manifest under this many rows (≤ 16 MB of long pairs) labels via
    * one collect + union-find instead of rounds-many star-contraction
    * jobs. Pair manifests are result-sized by construction; the
    * distributed loop stays the 100 TB path and the spec pins both
    * label sets equal (plus the r9 union-find oracle). Env-overridable
    * (-1 forces the distributed branch). */
  private[graft] val ComponentsDriverEdgeMax =
    sys.env.getOrElse("SPARK_GRAFT_CC_DRIVER_MAX", (1L << 20).toString).toLong

  /** Connected components of an undirected edge list (a, b) → rows
    * (id, comp) where comp = min doc_id of the component. Adaptive
    * (r14): below [[ComponentsDriverEdgeMax]] canonical edges the
    * labels come from an in-process union-find with min-id roots —
    * identical output, zero loop jobs. */
  def components(edges: DataFrame, a: String, b: String,
      driverEdgeMax: Long = ComponentsDriverEdgeMax): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val init = canonicalEdges(edges, a, b)
    val n = init.count()
    if (n <= driverEdgeMax) {
      val es = init.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      // Iterative find (r15, verdict item 8): unions are by min-id, not
      // by rank, so parent chains can grow O(n) deep (a path graph whose
      // canonical edges collect in descending order builds an n-deep
      // chain) — a recursive walk would overflow the driver stack at the
      // 2^20-edge bound. Walk to the root, then compress in a second
      // pass; identical labels to the recursive form.
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      es.flatMap { case (u, v) => Seq(u, v) }.distinct
        .map(id => (id, find(id))).toSeq.toDF("id", "comp")
    } else starLoop(init, n)._1
  }

  /** Canonical directed form (u > v), self-loops dropped, deduped;
    * materialized once — counting it to size the loop's shuffles (or
    * take the driver cutover) must not re-run pair detection. */
  private def canonicalEdges(
      edges: DataFrame, a: String, b: String): DataFrame =
    edges
      .select(greatest(col(a), col(b)).as("u"), least(col(a), col(b)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint()

  /** [[components]] plus the number of large-star/small-star rounds it
    * took — exposed so DupClustersSpec can pin the O(log n) round
    * bound on an adversarial path graph (always the distributed
    * branch). */
  private[graft] def componentsWithRounds(
      edges: DataFrame, a: String, b: String): (DataFrame, Int) = {
    val init = canonicalEdges(edges, a, b)
    starLoop(init, init.count())
  }

  /** The large-star/small-star contraction loop over the canonical
    * checkpointed edge set — the 100 TB branch. */
  private def starLoop(init: DataFrame, nEdges: Long): (DataFrame, Int) = {
    val spark = init.sparkSession
    import org.apache.spark.sql.expressions.Window
    // AQE is OFF inside the loop: the plan shape is identical every
    // round and the shuffle width is already sized to the data here,
    // so AQE's per-stage re-planning round-trips (× stages × rounds)
    // buy nothing and dominated the measured round cost.
    graft.Tables.withConfs(spark,
      "spark.sql.shuffle.partitions" -> partitionsForEdges(2 * nEdges).toString,
      "spark.sql.adaptive.enabled" -> "false") {
      val wU = Window.partitionBy(col("u"))
      var e = init
      // Convergence test stays a cheap per-round sum: the edge set is
      // a fixpoint exactly when both star rules rewrite it to itself,
      // detected as an unchanged (count, Σv, Σxxhash64(u,v))
      // fingerprint — one aggregate over the just-checkpointed rows.
      // Σv is the monotone progress witness (endpoints only ever
      // re-attach to neighborhood MINIMA); the order-insensitive hash
      // sum makes a changed-but-same-sums edge set (an equal-sum edge
      // swap) collide with probability ~2^-64 instead of by
      // construction. Σv can't overflow (doc_ids and edge counts are
      // far below 2^31); the hash sum runs in decimal(38,0) because
      // ANSI mode (Spark 4 default) throws on long-sum overflow and
      // xxhash64 values span the full long range.
      var prev: (Long, Long, java.math.BigDecimal) =
        (-1L, -1L, java.math.BigDecimal.ZERO)
      var converged = false
      var round = 0
      while (!converged) {
        round += 1
        if (round > MaxRounds)
          throw new IllegalStateException(
            s"DupClusters.components did not converge after $MaxRounds rounds — " +
              "star rules are no longer contracting")
        // large-star: symmetrize so every vertex sees its full
        // neighborhood, take m = min(N(u) ∪ {u}) per star center via a
        // window min (one hash-partition by u — no join), re-attach
        // each LARGER neighbor to m. Output is canonical (v > m since
        // m ≤ u < v). Duplicate (v, m) rows from different centers are
        // tolerated here — min() is duplicate-insensitive and the
        // small-star distinct below dedupes — saving a shuffle.
        val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val ls = sym
          .withColumn("m", least(min(col("v")).over(wU), col("u")))
          .where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star: edges already point big→small, so N(u) here is
        // exactly the smaller neighbors; m = min over them. The row
        // carrying the minimum re-emits the center itself (u, m) —
        // exactly once after distinct — and every other row re-attaches
        // its smaller endpoint (x, m). Both outputs stay canonical
        // (x > m, u > m).
        val nextE = ls
          .withColumn("m", min(col("v")).over(wU))
          .select(
            when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
            col("m").as("v"))
          .where(col("u") =!= col("v"))
          .distinct()
          // LAZY checkpoint: the fingerprint action right below is the
          // round's only job — it materializes the checkpoint as a side
          // effect, so each round pays ONE action instead of an
          // eager-checkpoint job plus a stats job.
          .localCheckpoint(eager = false)
        val stats = nextE.agg(
          count(lit(1)),
          coalesce(sum(col("v")), lit(0L)),
          coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
        val fp = (stats.getLong(0), stats.getLong(1),
          stats.getDecimal(2).stripTrailingZeros())
        e = nextE
        converged = fp == prev
        prev = fp
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc] round $round fp=$fp t=${System.nanoTime() / 1e9}")
      }
      // Fixpoint is a forest of stars: every non-root points straight
      // at its component min; roots appear only on the v side.
      val labels = e.select(col("u").as("id"), col("v").as("comp"))
        .unionByName(e.select(col("v").as("id"), col("v").as("comp")).distinct())
      (labels, round)
    }
  }

  /** Near-dup manifest STORE: the pair list and component labels are
    * persisted as WRITE-ONCE, VERSIONED parquet tables — never a
    * driver-memory array. A collected pair list replayed as a
    * LocalRelation is result-sized at gate scale (20k pairs), but a
    * pair manifest at 100 TB can be billions of rows: the consuming
    * path must be a table scan, exactly as a corpus pipeline persists
    * its dedup pairs before the drop-list jobs and lets every audit
    * read them.
    *
    * Layout: `<base>/v<format>/<corpus>/<snapshot>/{pairs,labels}`,
    * where <snapshot> fingerprints the documents table's file listing
    * (name, size, mtime). A corpus change ⇒ a new snapshot id ⇒ a new
    * path, so invalidation is structural (the stale manifest is never
    * read, and each promote deletes the corpus's other snapshots);
    * within a snapshot the build runs at most once per path — racing
    * writers build into a private temp dir and promote with one atomic
    * rename, losers discard. The pair detector (q_ngram_jaccard) and
    * the clustering algorithm (q_dup_clusters) still run live under
    * their own gates; the manifests exist for the CONSUMERS
    * (canonicalization, radius, triangle audit), which now plan a
    * bounded parquet scan of the manifest — the corpus never re-enters
    * their plans
    * (spec-pinned in DupClustersSpec, with build-once and
    * invalidate-on-version-change pinned via [[manifestBuilds]]). */
  private[graft] val manifestBuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  // v2 (r12): labels carry n_chars (consumers go corpus-free) and both
  // tables are range-clustered + sorted on their consumer keys
  private val ManifestFormat = 2

  private def defaultManifestBase: String =
    sys.props.getOrElse("graft.manifest.dir",
      sys.props("java.io.tmpdir") + "/graft-manifests")

  /** Corpus snapshot id: the documents table's
    * [[graft.Artifacts.snapshotId]]. */
  private[graft] def corpusVersion(dir: String): String =
    graft.Artifacts.snapshotId(SparkSession.active, dir, "documents")

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^_+", "")

  /** Range-clustered write layout (r12, verdict item 6): the manifest
    * is materialized once (localCheckpoint — the build must not re-run
    * for the sizing count), split into ≤128 MB range partitions on the
    * consumer key and sorted within files, so (a) a consumer filtering
    * on the lead key prunes files/row groups via parquet min/max stats
    * instead of scanning the table, and (b) files don't multiply with
    * the session's shuffle width. Flat unordered parquet — the r11
    * layout — made every selective consumer a full-manifest scan. */
  private[graft] def rangeLayout(df: DataFrame, bytesPerRow: Int,
                                 cols: String*): DataFrame = {
    val snap = df.localCheckpoint()
    val parts = math.min(1 << 12, math.max(1,
      math.ceil(snap.count().toDouble * bytesPerRow / (128L << 20)).toInt))
    snap.repartitionByRange(parts, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
  }

  /** Read-through table: serve `<base>/…/<name>` if its _SUCCESS
    * exists, else build → temp dir → atomic rename (idempotent under
    * concurrent builders; the path names the snapshot, so the memo only
    * skips the filesystem probe on repeat calls). A promote then
    * deletes the corpus's other snapshot dirs and forgets their memo
    * entries; a DataFrame still holding an older snapshot's scan fails
    * on its next action. Returns a plain parquet scan with an explicit
    * schema — no footer job, no driver copy. */
  private[graft] def manifestTable(
      spark: SparkSession, base: String, corpusDir: String, version: String,
      name: String, schema: org.apache.spark.sql.types.StructType,
      layoutCols: Seq[String], bytesPerRow: Int = 24)(
      build: => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val path = Paths.get(base, s"v$ManifestFormat", sanitize(corpusDir),
      version, name)
    graft.Artifacts.memo("manifest", spark, corpusDir, Nil, path.toString)(this.synchronized {
      if (!Files.exists(path.resolve("_SUCCESS"))) {
        manifestBuilds.incrementAndGet()
        Files.createDirectories(path.getParent)
        val tmp = path.resolveSibling(
          s"$name.tmp-${java.util.UUID.randomUUID()}")
        rangeLayout(build, bytesPerRow, layoutCols: _*)
          .write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileSystemException =>
          // another writer promoted first — keep theirs, drop ours
          graft.Artifacts.deleteRecursively(tmp)
        }
        val snapshot = path.getParent
        val ls = Files.list(snapshot.getParent)
        val stale = try ls.iterator().asScala.filter(_ != snapshot).toList finally ls.close()
        stale.foreach(graft.Artifacts.deleteRecursively)
        graft.Artifacts.forget("manifest", corpusDir)(
          knobs => stale.exists(d => Paths.get(knobs.head.toString).startsWith(d)))
      }
    })
    spark.read.schema(schema).parquet(path.toString)
  }

  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("a_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("b_id",
      org.apache.spark.sql.types.LongType)))
  private val labelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("comp",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  /** The persisted near-dup pair manifest for `dir`'s current corpus
    * snapshot (built once from the exact n-gram-jaccard detector). */
  private[graft] def pairManifest(spark: SparkSession, dir: String): DataFrame =
    pairManifestAt(spark, defaultManifestBase, dir, corpusVersion(dir))
  private[graft] def pairManifestAt(spark: SparkSession, base: String,
      dir: String, version: String): DataFrame =
    manifestTable(spark, base, dir, version, "pairs", pairSchema,
      layoutCols = Seq("a_id", "b_id"), bytesPerRow = 16)(
      TextQueries.ngramJaccard(spark, dir).select(col("a_id"), col("b_id")))

  /** The persisted component-label manifest of the near-dup pair
    * graph — consumed by canonicalization and the radius audit, as a
    * pipeline consumes its persisted cluster assignment rather than
    * re-clustering per report. Bounded by the edge set (only docs
    * that appear in a pair). Since v2 (r12) each label row also
    * carries the member's n_chars, resolved ONCE at build time from
    * the documents table — so the canonicalization consumer plans a
    * bounded manifest scan with no corpus join at query time — and
    * rows are range-clustered + sorted by (comp, id) for
    * per-component pruning (DupClustersSpec pins both). */
  private[graft] def nearDupLabels(spark: SparkSession, dir: String): DataFrame =
    nearDupLabelsAt(spark, defaultManifestBase, dir, corpusVersion(dir))
  private[graft] def nearDupLabelsAt(spark: SparkSession, base: String,
      dir: String, version: String): DataFrame =
    manifestTable(spark, base, dir, version, "labels", labelSchema,
      layoutCols = Seq("comp", "id"), bytesPerRow = 24)(
      components(pairManifestAt(spark, base, dir, version), "a_id", "b_id")
        .join(graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
        .select(col("id"), col("comp"), col("n_chars")))

  private def clusterManifest(pairs: DataFrame): DataFrame =
    components(pairs, "a_id", "b_id")
      .groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
      .orderBy(col("keep_id"))

  /** Gate query: cluster the verified n-gram-jaccard near-dup pairs
    * and emit one row per cluster — keeper (min doc_id), member count,
    * max member — the drop-list manifest. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterManifest(pairManifest(spark, dir))

  /** Embedding-side twin (E3 ∘ E2): clusters over the exact
    * cosine-similarity near-dup pairs — semantic dedup's drop-list,
    * same component machinery, different pair detector. */
  def cosineClusters(spark: SparkSession, dir: String): DataFrame =
    clusterManifest(
      VectorQueries.cosineDedup(spark, dir).select(col("a_id"), col("b_id")))

  /** Canonicalization: pick the KEEPER document of each near-dup
    * cluster by quality, not by id — argmax (n_chars desc, doc_id
    * asc) over cluster members. The labels table is bounded by the
    * edge set (only documents that appear in a near-dup pair), so the
    * per-cluster window runs over groups of duplicate-count size; the
    * doc-metadata join is on the co-partition key doc_id. This is the
    * "which copy do we train on" step that follows dedup detection in
    * a corpus pipeline. */
  /** Per-cluster BFS radius audit (r9) — eccentricity of the keeper
    * (min doc_id) inside its near-dup component: radius 1 means the
    * cluster is a star/clique around the keeper (every member is a
    * DIRECT near-dup of it — safe to drop), while radius ≥ 2 means
    * transitive-closure clustering welded members to the keeper only
    * through CHAINS of borderline pairs — the over-merge risk the
    * [[ClickstreamGraph.triangleAudit]] transitivity number measures
    * globally, here localized to the clusters it actually happens in.
    *
    * Pattern: Pregel-style frontier expansion — the third iterative
    * shape in the engine after star-contraction (components) and
    * damped fixpoint (PageRank). Each round is one equi-join of the
    * FRONTIER (just-reached nodes) against the symmetric edge
    * manifest plus an anti-join against the visited set, so per-round
    * work is O(frontier boundary), total O(|edges| · diameter).
    * Rounds are bounded by the worst cluster ECCENTRICITY — measured
    * up to 9 at sf0.1, which is the finding: barely a fifth of the
    * fixture's clusters are radius-1 stars, the rest really are
    * closure-welded chains — with the MaxRounds guard failing loudly
    * on a pathological graph. Loop discipline mirrors
    * [[componentsWithRounds]]: shuffle width sized to the edge
    * manifest, AQE off (identical plan shape every round), and ONE
    * action per round (the emptiness test counts the lazily
    * checkpointed frontier, materializing it as a side effect).
    * Everything runs at pair-manifest grain — the corpus is never
    * touched after pair detection. */
  /** Driver-loop cutover bound for [[clusterRadius]]: a pair manifest
    * under this many rows (≈ 32 MB of (x, y) longs symmetrized) runs
    * its BFS on the collected edge list in one process — N frontier
    * rounds over a result-sized manifest are otherwise N scheduled
    * join+anti-join jobs of pure scheduling floor (measured ~0.2 s ×
    * 9 rounds at sf0.1's few-thousand-pair manifest). Above the bound
    * the distributed Pregel loop below runs unchanged — same seeds,
    * same level semantics, spec-pinned identical. Env-overridable
    * (-1 forces the distributed branch). */
  private[graft] val RadiusDriverPairMax =
    sys.env.getOrElse("SPARK_GRAFT_RADIUS_DRIVER_MAX", (1L << 20).toString).toLong

  /** BFS levels on the collected symmetric adjacency — one pass per
    * level, min-distance = first-reach level, exactly the distributed
    * branch's (join frontier → anti-join visited → min d) semantics. */
  private def radiusDriver(spark: SparkSession,
      seeds: Array[Long], edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (x, y) =>
      adj.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    seeds.foreach { s =>
      val dist = scala.collection.mutable.HashMap(s -> 0)
      var frontier = List(s)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filter(n => !dist.contains(n))
          .distinct
        frontier.foreach(dist(_) = d)
      }
      dist.foreach { case (id, dd) => out += ((s, id, dd)) }
    }
    out.toSeq.toDF("comp", "id", "d")
  }

  def clusterRadius(spark: SparkSession, dir: String,
      driverPairMax: Long = RadiusDriverPairMax): DataFrame = {
    val pairs = pairManifest(spark, dir)
    val comp = nearDupLabels(spark, dir)
    val nPairs = pairs.count()
    // Adaptive cutover (r14 optimization, the globalNtile/bpeTrain
    // discipline): the BFS runs at PAIR-MANIFEST grain — result-sized
    // by construction — so below [[RadiusDriverPairMax]] the frontier
    // loop collapses to one collect + an in-process walk + the same
    // final distributed aggregate, instead of rounds-many scheduled
    // jobs. The distributed branch is the 100 TB path and stays
    // byte-identical (DupClustersSpec pins both paths equal).
    if (nPairs <= driverPairMax) {
      val es = pairs.select(col("a_id"), col("b_id")).collect()
        .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      val seeds = comp.select(col("comp")).distinct().collect().map(_.getLong(0))
      return radiusDriver(spark, seeds, es)
        .groupBy(col("comp").as("keep_id"))
        .agg(count(lit(1)).as("n_members"),
          max(col("d")).cast("long").as("radius"),
          graft.functions.F.roundBin(avg(col("d")), 6).as("avg_dist"))
        .orderBy(col("keep_id"))
    }
    val edges = pairs.select(col("a_id").as("x"), col("b_id").as("y"))
      .unionByName(pairs.select(col("b_id").as("x"), col("a_id").as("y")))
      .localCheckpoint()
    graft.Tables.withConfs(spark,
      "spark.sql.shuffle.partitions" -> partitionsForEdges(2 * nPairs).toString,
      "spark.sql.adaptive.enabled" -> "false") {
      var visited = comp.select(col("comp"), col("comp").as("id"), lit(0).as("d"))
        .distinct().localCheckpoint()
      var frontier = visited
      var round = 0
      var done = false
      while (!done) {
        round += 1
        if (round > MaxRounds)
          throw new IllegalStateException(
            s"clusterRadius did not drain after $MaxRounds rounds — " +
              "cluster eccentricity exceeds any plausible near-dup graph")
        val next = frontier.select(col("comp"), col("id"), col("d"))
          .join(edges, col("id") === col("x"))
          .select(col("comp"), col("y").as("id"), (col("d") + 1).as("d"))
          .join(visited.select(col("comp"), col("id")), Seq("comp", "id"), "left_anti")
          .groupBy(col("comp"), col("id")).agg(min(col("d")).as("d"))
          .localCheckpoint(eager = false)
        if (next.count() == 0L) done = true
        else {
          visited = visited.unionByName(next).localCheckpoint(eager = false)
          frontier = next
        }
      }
      visited.groupBy(col("comp").as("keep_id"))
        .agg(count(lit(1)).as("n_members"),
          max(col("d")).cast("long").as("radius"),
          graft.functions.F.roundBin(avg(col("d")), 6).as("avg_dist"))
        .orderBy(col("keep_id"))
    }
  }

  def canonicalReps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // v2 manifest (r12): n_chars rides the label row, so this is ONE
    // bounded manifest scan + per-cluster window — the corpus never
    // enters the plan (the doc-metadata join happened once, at
    // manifest build; DupClustersSpec pins the corpus-free plan).
    val labels = nearDupLabels(spark, dir)
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("n_chars").desc, col("id"))
    labels
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp").as("cluster"))
      .agg(
        max(when(col("rn") === 1, col("id"))).as("rep_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("rep_chars"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))
  }
}
