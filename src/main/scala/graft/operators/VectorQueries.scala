package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Vector similarity over the `embeddings` fixture (SURVEY.md §2.11
  * E3): brute-force cosine top-k as the exact baseline, plus a
  * random-hyperplane LSH bucketed variant as the 100 TB scale path.
  *
  * The cosine/norm kernels are native Catalyst expressions
  * (graft.functions.CosineSim / L2Norm): a fused single loop over the
  * raw float ArrayData, codegen-called — no per-row double-array
  * allocation, no interpreted lambda, and the surrounding
  * filter/project stays in one whole-stage-codegen span.
  *
  * Scale posture: brute-force against a single query vector is a
  * broadcast-join + TakeOrderedAndProject — linear scan, no shuffle of
  * the corpus, embarrassingly parallel. All-pairs work is blocked (by
  * label / LSH bucket) so pair counts stay bounded.
  */
object VectorQueries {
  import graft.Tables.load

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.install(spark)
    load(spark, dir, "embeddings")
  }

  /** |corpus| for knob derivation — memoized (Tables.rowCount) so knob
    * math costs zero Spark jobs after the first query on a dir. */
  private def corpusSize(spark: SparkSession, dir: String): Long =
    graft.Tables.rowCount(spark, dir, "embeddings")

  /** E3 brute-force cosine top-k: 10 nearest neighbors of the vector
    * with the smallest vec_id. Broadcast the 1-row query side; rounded
    * score + vec_id tiebreak keeps the cut deterministic. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"),
        F.roundBin(expr("cosine_sim(v, qv)"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** E3 batch kNN: top-`k` cosine neighbors for EACH of the `nQueries`
    * lowest-vec_id query vectors in one job — the retrieval shape of a
    * training-data pipeline (dedup-against-index, hard-negative mining)
    * where queries arrive in batches, not one at a time.
    *
    * Scale shape: the query batch broadcasts (it is the small side by
    * construction); the corpus is scanned once, never shuffled — the
    * only shuffled rows are the scored (q_id, vec_id, cos) tuples
    * (~24 B each, no embeddings) hashed on q_id for the per-query
    * row_number cut. At 100 TB the pre-cut would move corpus×Q tuples;
    * the bounded-buffer refinement is a top-k TypedImperativeAggregate
    * (partial agg keeps ≤k rows per query per partition), which this
    * window formulation is the oracle for. Ranking uses the ROUNDED
    * score (+ vec_id tiebreak) so the cut is reproducible across
    * engines. */
  def knnBatch(spark: SparkSession, dir: String,
               nQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val q = e.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).drop("rn")
      .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
  }

  /** E3 batch kNN via the bounded [[graft.functions.TopKAgg]]
    * aggregate — same answer as [[knnBatch]] (same oracle), different
    * physical shape: partial aggregation caps map-side buffers at k
    * rows per query, so the shuffle carries ≤ k·partitions rows per
    * query instead of the full corpus×Q scored set the window
    * formulation moves. THIS is the 100 TB batch-retrieval plan; the
    * window variant is its cross-engine oracle anchor. */
  def knnBatchAgg(spark: SparkSession, dir: String,
                  nQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val q = e.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("q_id"))
      .agg(F.topK(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("vec_id"), col("t.score").as("cos"))
      .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
  }

  /** E3 vector stats: per-label count and average L2 norm. */
  def vecNorms(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), expr("l2_norm(embedding)").as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), F.roundBin(avg(col("n2")), 4).as("avg_norm"))
      .orderBy(col("label"))

  /** E3 int8-quantization audit: per-label relative reconstruction
    * error of symmetric int8 quantization (scale = max|x|/127, codes
    * floor(x/s + 0.5)) — the go/no-go report before an embedding
    * store flips its ANN index from float32 to int8 (4× smaller, and
    * at 100 TB of vectors the difference between an in-memory and an
    * on-disk index). The kernel is the fused native quant_err
    * expression (graft.functions.QuantErr — no quantized array is
    * materialized, whole-stage codegen keeps scan→project→partial-agg
    * in one span); the plan is a pure projection + two-phase agg on
    * label, shuffling only (label, double) pairs. Vectors with no
    * scale (all-zero) are excluded, mirrored by the oracle's m > 0
    * guard. */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), F.quantErr(col("embedding")).as("rel"))
      .where(col("rel").isNotNull)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        F.roundBin(avg(col("rel")), 4).as("avg_err"),
        F.roundBin(max(col("rel")), 4).as("max_err"))
      .orderBy(col("label"))

  /** E3 embedding-quality outlier report: the k vectors FARTHEST (by
    * cosine) from their label's mean embedding — the
    * "mislabeled/garbage embedding" audit a training pipeline runs on
    * each ingest batch (centroid-distance filtering is the standard
    * cheap semantic-quality cut before expensive model-based scoring).
    *
    * Scale shape, all three stages 100 TB-safe:
    *  1. centroids: posexplode to (label, pos, x) then two-phase avg —
    *     map-side combine collapses each partition to |labels|×dim
    *     partial sums before the shuffle;
    *  2. scoring: centroids broadcast (|labels|×dim floats — small by
    *     construction), corpus scanned once, never shuffled;
    *  3. cut: bounded TopKAgg (score = 0−cos, so "top-k" = farthest)
    *     — partial buffers never exceed k rows per label per
    *     partition, vs the window row_number formulation which
    *     sorts every scored row. Shuffled rows are (label, k×16 B)
    *     structs.
    * Centroid means cast to float on both sides (the oracle mirrors)
    * so the cosine kernel input is bit-identical; ranking uses the
    * 4dp-rounded cosine with vec_id tiebreak for a deterministic
    * boundary. */
  def centroidOutliers(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(spark, dir).select(col("label"), col("vec_id"), col("embedding").as("v"))
    val cents = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), expr("transform(pm, p -> cast(p.m as float))").as("cv"))
    e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("cv")), 4).as("cos"))
      .groupBy(col("label"))
      .agg(F.topK(lit(0.0d) - col("cos"), col("vec_id"), k).as("t"))
      .select(col("label"), posexplode(col("t")).as(Seq("rn0", "s")))
      .select(col("label"), (col("rn0") + 1).as("rn"),
        col("s.id").as("vec_id"), (lit(0.0d) - col("s.score")).as("cos"))
      .orderBy(col("label"), col("rn"))
  }

  /** E3/E2 embedding-cosine near-dup pairs, blocked by label: pairs
    * with cosine ≥ 0.3 (fixture cosines top out ≈0.47). The label
    * blocking bounds the self-join; at 100 TB the block key would be an
    * LSH bucket (see annLsh). */
  def cosineDedup(spark: SparkSession, dir: String): DataFrame =
    exactPairs(spark, dir, sampleMod = 1)

  /** Label-blocked exact near-dup pairs, optionally restricted to a
    * deterministic 1-in-`sampleMod` xxhash sample of the PAIR space
    * — sampled BEFORE the cosine kernel runs, so the claim-gate twin
    * costs ~1/sampleMod of the exhaustive join (the 100 TB audit
    * posture: recall is stamped from a sample; the exhaustive ground
    * truth stays oracle-checked through q_cosine_dedup itself). */
  private def exactPairs(spark: SparkSession, dir: String, sampleMod: Int): DataFrame = {
    val e = emb(spark, dir)
      .select(col("label"), col("vec_id"), col("embedding").as("v"))
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("v").as("bv"))
    val joined = a.join(b, Seq("label")).where(col("a_id") < col("b_id"))
    val sampled =
      if (sampleMod <= 1) joined
      else joined.where(
        pmod(xxhash64(col("a_id"), col("b_id")), lit(sampleMod.toLong)) === 0)
    sampled
      .withColumn("cos", expr("cosine_sim(av, bv)"))
      .where(col("cos") >= 0.3)
      .select(col("a_id"), col("b_id"), F.roundBin(col("cos"), 4).as("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** E2/E3 embedding-cosine near-dup at scale: MULTI-TABLE hyperplane
    * LSH blocking (OR-amplification, r9 — the r8 single-table variant
    * measured 0.15 recall vs the exact twin, the textbook failure of
    * one k-bit signature at a LOW similarity threshold). Candidate
    * pairs form inside any of L independent k-bit hyperplane buckets;
    * per-pair hit probability is 1−(1−p^k)^L with p = 1−θ/π, so L is
    * sized analytically ([[lshTablesFor]]) for ~0.9 recall at the
    * query's cos ≥ 0.3 cut. The bucket index carries the vectors, so
    * collisions verify map-side inside the bucket join and only the
    * small ≥-threshold survivor set is ever shuffled for dedup (see
    * the in-body note on why this beats dedup-then-join-back).
    *
    * Honest regime note (SCALE.md §vectors): at t = 0.3 the per-bit
    * gap between qualifying (p≈0.60) and random (p=0.5) pairs is
    * thin — ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.75, so candidate count scales
    * as n^{1+ρ} ≈ n^1.75: subquadratic but not cheap. Production
    * near-dup cuts (cos ≥ 0.8, p ≈ 0.80) give ρ ≈ 0.32 and the same
    * machinery needs L ≈ 10 tables for n^1.3 candidates — THAT is the
    * 100 TB operating point; the fixture threshold exists to exercise
    * the hard end.
    *
    * ACCURACY-GATED ORACLE since r11 (the r10 ANN graduation pattern,
    * formerly rows-only + claim): [[cosineDedupLsh]] runs this real
    * LSH funnel, measures its recall against the exact pair set, and
    * emits the EXACT label-blocked pairs — which DuckDB pins
    * independently with the q_cosine_dedup SQL — plus a `recall_ok`
    * claim the oracle fixes at TRUE. The engine-defined part of the
    * answer (hyperplane buckets) never reaches the hashed output, but
    * a recall regression flips recall_ok on every row → DuckDB hash
    * mismatch AND the Verify claim gate (exit 3). The probe itself
    * stays exposed as [[cosineDedupLshFound]] for the spec's
    * true-score / subset assertions. */
  /** DISTRIBUTED found-set membership audits (r14, verdict item 2):
    * the funnels' recall/precision claims used to `.collect()` the
    * whole found-pair set to the driver for the membership test —
    * result-sized at fixture scale but MANIFEST-sized on an
    * adversarial corpus (the r12 skew probe measured q_minhash_dedup's
    * 7.5× residual as exactly this output-bound term). The exact side
    * stays the bounded memoized driver array (sampled above
    * [[SampleFreeBelow]]); the FOUND side now stays on the executors:
    * recall = |found ∩ exact| via a semi-join of the found key stream
    * against the broadcast exact keys, precision (found ⊆ exact) = an
    * anti-join emptiness check. Same packed (a << 32) | b key space;
    * the oversized-id guard rides the expression as `assert_true`, so
    * a corrupt id still fails loudly instead of silently folding into
    * another pair's key. */
  private[graft] def packedFoundKeys(pairs: DataFrame): DataFrame =
    pairs.select(
      when(assert_true(
        col("a_id") >= 0 && col("b_id") >= 0 &&
          col("a_id") < lit(1L << 31) && col("b_id") < lit(1L << 31),
        concat(lit("pair key packing needs ids < 2^31, got ("),
          col("a_id"), lit(", "), col("b_id"), lit(")"))).isNull,
        shiftleft(col("a_id"), 32).bitwiseOR(col("b_id"))).as("pk"))

  private def exactKeysDf(spark: SparkSession, exact: Array[Long]): DataFrame = {
    import spark.implicits._
    exact.toSeq.toDF("pk")
  }

  /** |found ∩ exact| / |exact| without materializing found on the
    * driver. Both pair streams hold DISTINCT canonical (a < b) pairs,
    * so the semi-join count is exactly the intersection size. */
  private[graft] def distributedRecall(spark: SparkSession,
      exact: Array[Long], foundPairs: DataFrame): Double =
    if (exact.isEmpty) 1.0
    else {
      val hits = packedFoundKeys(foundPairs)
        .join(broadcast(exactKeysDf(spark, exact)), Seq("pk"), "left_semi")
        .count()
      hits.toDouble / exact.length
    }

  /** found ⊆ exact as a distributed anti-join emptiness check. */
  private[graft] def distributedSubset(spark: SparkSession,
      exact: Array[Long], foundPairs: DataFrame): Boolean =
    packedFoundKeys(foundPairs)
      .join(broadcast(exactKeysDf(spark, exact)), Seq("pk"), "left_anti")
      .isEmpty

  /** SAME-LABEL subset of a funnel's found pairs, as packed keys — the
    * precision-claim domain (r12, verdict item 2). The exact ground
    * truth is LABEL-BLOCKED ([[exactPairs]] joins on label), so a
    * funnel legitimately finds extra CROSS-label pairs the blocked twin
    * never enumerates; but every same-label pair it emits must appear
    * in the exhaustive exact set — map-side cosine verification makes
    * that structural, and the claim pins it so a verifier/threshold
    * regression that starts emitting junk pairs fails even while
    * recall holds. Pairs are result-sized: they broadcast into two
    * label lookups, nothing corpus-sized moves. */
  private def sameLabelFoundPairs(
      spark: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val lab = emb(spark, dir).select(col("vec_id"), col("label"))
    val withLa = broadcast(pairs.select(col("a_id"), col("b_id")))
      .join(lab.select(col("vec_id").as("a_id"), col("label").as("la")), Seq("a_id"))
    broadcast(withLa)
      .join(lab.select(col("vec_id").as("b_id"), col("label").as("lb")), Seq("b_id"))
      .where(col("la") === col("lb"))
      .select(col("a_id"), col("b_id"))
  }

  /** found-⊆-exact precision over the same-label claim domain,
    * resolved as a distributed anti-join of two executor-side frames
    * (r14 — no found-set collect, and the EXACT side stays the
    * checkpointed manifest: unlike the sampled recall keys it is
    * exhaustive, so on an adversarial corpus it must never transit
    * the driver either — the minhash-funnel discipline). */
  private def sameLabelPrecisionOk(
      spark: SparkSession, dir: String, pairs: DataFrame): Boolean = {
    val (exactDf, _) = exactCosinePairsDf(spark, dir)
    sameLabelFoundPairs(spark, dir, pairs)
      .join(exactDf.select(col("a_id"), col("b_id")),
        Seq("a_id", "b_id"), "left_anti")
      .isEmpty
  }

  private[graft] def cosineDedupLshFound(
      spark: SparkSession, dir: String): (DataFrame, Double) = {
    val bits = sigBitsFor(corpusSize(spark, dir))
    val nTables = lshTablesFor(bits, 0.3, 0.9)
    val tables = array((0 until nTables).map(t =>
      struct(lit(t).as("t"),
        F.hyperplaneBucket(col("v"), bits, t.toLong).as("bucket"))): _*)
    // The bucket index CARRIES the vectors (r10 — the standard LSH
    // index layout: probe a bucket, get vectors): collisions are
    // cosine-verified map-side inside the bucket join and only the
    // ≥-threshold SURVIVORS are deduped. The r9 shape deduped bare-id
    // candidates first, then joined vectors back — but the candidate
    // stream is the LARGEST dataset in this job (n^1.75 at t = 0.3;
    // 1.2M of 2M possible pairs at sf0.1), so a corpus-wide distinct
    // on it costs more than re-verifying the ~1.6× duplicated
    // collisions with one fused kernel: verification here is cheaper
    // than a shuffled row. Shuffle width is now bounded by the
    // survivor set (~10⁴), not the candidate stream (~10⁶); at 100 TB
    // the index is written once partitioned by (t, bucket) and this
    // join is its co-partitioned self-probe.
    // r12 funnel shell: exact-dup pre-collapse (identical vectors ride
    // the banding ONCE — see [[collapseExpandPairs]]) around the
    // capped grid-salted self-probe (degenerate buckets of DISTINCT
    // vectors can no longer produce one m² task — see
    // [[cappedCosinePairs]]); pair set identical to the bare
    // (t, bucket) self-join (HotBucketCapSpec pins it)
    val pairs = collapseExpandPairs(spark, dir, 0.3) { reps =>
      val banded = reps
        .select(col("vec_id"), col("v"), explode(tables).as("tb"))
        .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"),
          col("vec_id"), col("v"))
      cappedCosinePairs(banded, Seq("t", "bucket"), 0.3)
    }
      // result-sized; materialized ONCE — both the recall audit below
      // and the final dump read these blocks (ContextCleaner-managed,
      // unlike a CacheManager persist)
      .localCheckpoint()
    // Recall claim vs a deterministic xxhash SAMPLE of the exact
    // label-blocked pair space (r10 — audits sample at 100 TB; the r9
    // exhaustive twin cost 2.8 s of the query's 3.5 s). |LSH ∩
    // sample| / |sample| is an unbiased recall estimator; small
    // fixtures stay exhaustive so the estimate never rides <100
    // pairs. Membership resolves driver-side against the result-sized
    // key arrays — no 10³-element IN list, no one-partition window.
    val exact = exactCosineSamplePairKeys(spark, dir)
    // a catastrophic banding regression yielding ZERO pairs would
    // otherwise dump an empty result with no recall_ok=false row —
    // the claim gate must fail loudly, not vacuously (r10); cheap:
    // `pairs` is already checkpointed
    require(exact.isEmpty || !pairs.isEmpty,
      s"cosineDedupLsh: total recall loss — ${exact.length} sampled " +
        "exact pairs exist but the LSH funnel produced zero")
    // distributed membership (r14, verdict item 2): the found-pair set
    // stays on the executors; only the semi-join hit COUNT returns
    val recall = distributedRecall(spark, exact, pairs)
    (pairs.orderBy(col("a_id"), col("b_id")), recall)
  }

  /** Memoized EXHAUSTIVE exact near-dup pair manifest — the ground
    * truth the graduated [[cosineDedupLsh]] / [[semDedup]] emit (and
    * q_cosine_dedup oracle-checks live). Kept as a CHECKPOINTED
    * DataFrame with its count, never a driver array (the minhash-funnel
    * discipline: result-sized at fixtures, ~10⁴ pairs, but
    * adversarially unbounded, so the audits join against it
    * executor-side and the gated queries emit it directly). */
  private[graft] def exactCosinePairsDf(
      spark: SparkSession, dir: String): (DataFrame, Long) =
    graft.Artifacts.memo("exact-cos-pairs", spark, dir, Seq("embeddings")) {
      val df = exactPairs(spark, dir, 1).localCheckpoint()
      (df, df.count())
    }

  /** Oracle-gated LSH near-dup (r11 graduation — see
    * [[cosineDedupLshFound]] for the probe and the full story). */
  def cosineDedupLsh(spark: SparkSession, dir: String): DataFrame = {
    val (found, recall) = cosineDedupLshFound(spark, dir)
    // r12 (verdict item 2): the funnel's found-pair SET now reaches the
    // claim gate too — precision_ok pins same-label found ⊆ exact, so a
    // funnel that starts emitting junk pairs fails even while its
    // sampled recall holds
    val precision = sameLabelPrecisionOk(spark, dir, found)
    exactCosinePairsDf(spark, dir)._1
      .withColumn("recall_ok", lit(recall >= MinDedupRecall))
      .withColumn("precision_ok", lit(precision))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Claim floor for the LSH dedup recall — deterministic per fixture
    * (hash-derived), measured 0.976 / 0.955 at sf0.001/0.01
    * (exhaustive twin) and 0.9298 at sf0.1 (mod-4 sampled twin) with
    * the analytic table count; 0.8 leaves margin for fixture
    * regeneration without tolerating a real banding regression (the
    * r8 single-table formulation measured 0.15 and would fail this
    * gate). */
  private val MinDedupRecall = 0.8

  /** E2/E3 SemDeDup (Abbas et al. 2023): semantic near-dup detection
    * with K-MEANS CLUSTER blocking — the third candidate generator
    * next to the label blocks (q_cosine_dedup) and the hyperplane-LSH
    * tables (q_cosine_dedup_lsh). The corpus is soft-assigned to its
    * top-`probes` trained centroids ([[NearestCentroids]], one fused
    * map-side loop over the broadcast centroid list — no corpus
    * shuffle for assignment) and candidate pairs form only INSIDE a
    * shared list: ~n²·probes²/nlist cosine evaluations instead of n²,
    * and with nlist ≈ √n that is n^1.5-ish work the cluster key
    * shards evenly, shrinking as nlist grows with n. Soft assignment
    * is what makes this honest: a hard argmax partitioning drops
    * every pair straddling a cluster boundary (0.12–0.27 recall
    * across the fixtures), while top-k membership lets boundary pairs
    * meet in either side's lower-choice lists — 0.76 / 0.75 / 0.54 at
    * top-3, 1.0 / 1.0 / 0.983 at the r13 top-8 default (the spec pins
    * soft ≥ hard and the claim floor at 0.7).
    *
    * The quantizer is the SAME memoized k-means build the IVF ANN
    * index uses ([[trainCentroids]]) — one trained artifact serving
    * both the search path (q_ann_ivf_kmeans) and the dedup path, the
    * SemDeDup paper's own discipline (they dedup inside the k-means
    * clusters their retrieval index already maintains).
    *
    * Regime note (same honesty as the LSH funnel's): SemDeDup's
    * production operating point is a HIGH cut (cos ≥ 0.9), where a
    * near-dup pair's members land in the same top-1 cluster w.h.p.
    * and within-cluster search is nearly exhaustive-recall. This
    * fixture's 0.3 cut sits at the hard end — a single clustering
    * probed k ways is ≈ k² LSH table-equivalents, against the ~30
    * OR-tables the analytic LSH sizing needs for 0.9 recall at this
    * threshold — so cluster co-membership of weakly-similar pairs is
    * genuinely probabilistic, and the measured-recall claim
    * quantifies exactly that cost/recall point. Probing is the
    * paper's own recall knob and the r13 measurement of it:
    * top-3 gave 0.76 / 0.75 / 0.54 at sf0.001/0.01/0.1, top-5
    * 0.96 / 0.97 / 0.80, top-8 (the shipped default) 1.0 / 1.0 /
    * 0.983 — ≈ 64 table-equivalents, enough even at this cut, and
    * nearly free since the member map + centroids are memoized and
    * the within-list work is collapse+cap-bounded. Recall also rises
    * with the similarity cut — pairs near the fixture maximum
    * co-cluster far more reliably — which is the gradient that makes
    * the method work at its intended high-cut operating point.
    *
    * ACCURACY-GATED ORACLE (the r10/r11 graduation pattern): the
    * probe runs live, recall is measured against the sampled exact
    * pair keys, and the emitted rows are the exhaustive exact pairs
    * DuckDB pins with the q_cosine_dedup SQL plus a `recall_ok` claim
    * fixed TRUE — a clustering regression flips every row and fails
    * both the DuckDB hash and the Verify claim gate. */
  /** HOT-BUCKET CAP for the blocked self-join funnels (r12, closing
    * the verdict's last un-handled scale hazard): bucket-size knob
    * math ([[sigBitsFor]], [[nlistFor]]) bounds the AVERAGE bucket,
    * and AQE skew-splitting splits partitions — but neither can split
    * the m² candidate OUTPUT of one degenerate key (a mass-duplicate
    * corpus, a zero-vector pile: m vectors in one (t, bucket) or
    * list_id is one quadratic task no config reaches). Buckets over
    * the cap are GRID-SPLIT into g = ⌈m/cap⌉ salt groups per side:
    * each row carries its own salt s = xxhash64(id) mod g and is
    * replicated across the OTHER side's g coordinates, the join key
    * grows to (key, sa, sb), and pair (x, y) meets exactly once, in
    * cell (sa(x), sb(y)). Per-task candidate count drops from m² to
    * ~(m/g)² ≤ cap² (hash-uniform salts), at a replication cost of g
    * rows per hot-bucket row — the same m·g ≈ m²/cap shuffle volume
    * the one-sided salt-and-replicate variant pays for a far weaker
    * cap·m per-task bound. Healthy buckets (the common case — the
    * knob math keeps averages ~64) take the g = 1 degenerate grid:
    * salt 0 on both sides, no replication, byte-identical join
    * behavior. The detection pass is one column-pruned count over the
    * bucket keys (never the vectors) broadcast back as the sparse hot
    * map; HotBucketCapSpec pins pair-set equality with the uncapped
    * join, the per-cell bound, and g = 1 transparency on a
    * 30%-mass-duplicate corpus. */
  private[graft] val HotBucketCap = 256

  /** Oversized-bucket manifest: (keys..., g) for buckets holding more
    * than `cap` rows — result-sized by construction (≤ |banded|/cap
    * rows, and in a healthy corpus empty). */
  private[graft] def hotBucketGroups(
      banded: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > cap)
      .select(keys.map(col) :+
        ceil(col("n") / lit(cap.toDouble)).cast("int").as("g"): _*)

  /** Grid-salt a banded frame for a capped self-join — the GENERIC
    * mechanism shared by the vector funnels and the minhash band join
    * (r12): each side carries every original column plus (sa, sb);
    * healthy buckets ride the g = 1 degenerate grid (salt 0 both
    * sides, no replication). */
  private[graft] def gridSaltedSides(
      banded: DataFrame, keys: Seq[String], idCol: String,
      cap: Int): (DataFrame, DataFrame) = {
    val hot = hotBucketGroups(banded, keys, cap)
    val aug = banded.join(broadcast(hot), keys, "left")
    def ownSalt = when(col("g").isNull, lit(0))
      .otherwise(pmod(xxhash64(col(idCol)), col("g")).cast("int"))
    def allSalts = explode(when(col("g").isNull, array(lit(0)))
      .otherwise(sequence(lit(0), col("g") - 1)))
    val cols = banded.columns.map(col).toSeq
    (aug.select(cols ++ Seq(ownSalt.as("sa"), allSalts.as("sb")): _*),
     aug.select(cols ++ Seq(allSalts.as("sa"), ownSalt.as("sb")): _*))
  }

  /** The two salted sides of a capped within-bucket self-join over a
    * `banded` frame with columns keys ++ (vec_id, v): left side
    * (keys, sa, sb, a_id, av), right side (keys, sa, sb, b_id, bv).
    * Exposed separately so HotBucketCapSpec can pin the per-cell
    * bound on the sides themselves. */
  private[graft] def cappedSelfJoinSides(
      banded: DataFrame, keys: Seq[String],
      cap: Int): (DataFrame, DataFrame) = {
    val (a0, b0) = gridSaltedSides(banded, keys, "vec_id", cap)
    (a0.withColumnRenamed("vec_id", "a_id").withColumnRenamed("v", "av"),
     b0.withColumnRenamed("vec_id", "b_id").withColumnRenamed("v", "bv"))
  }

  /** Capped within-bucket cosine pair funnel shared by the LSH and
    * SemDeDup candidate generators: grid-salted self-join, map-side
    * exact-cosine verification, survivor-set distinct. */
  private[graft] def cappedCosinePairs(
      banded: DataFrame, keys: Seq[String], threshold: Double,
      cap: Int = HotBucketCap): DataFrame = {
    val (a, b) = cappedSelfJoinSides(banded, keys, cap)
    a.join(b, keys ++ Seq("sa", "sb"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos", F.cosineSim(col("av"), col("bv")))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), F.roundBin(col("cos"), 4).as("cos"))
      .distinct()
  }

  /** EXACT-DUPLICATE PRE-COLLAPSE around a rep-grain pair funnel
    * (r12, from the skew probe's biggest finding): a mass-duplicate
    * corpus (the skew_probe zone: 30% identical vectors) made the LSH
    * funnel 4.7× slower — identical vectors collide in EVERY one of
    * the L tables, so the same m²/2 clique pairs were generated and
    * cosine-verified L times over. Collapsing exact duplicates first
    * (group by the vector VALUE — content equality, no hash-collision
    * risk), running the funnel on one representative per distinct
    * vector, and expanding found rep pairs back over the member lists
    * turns that redundant m²·L verification into |distinct|-grain
    * funnel work plus output-sized row generation. The found-pair SET
    * is exactly preserved: identical vectors share every bucket in
    * every table, so a within-group pair was always a candidate and
    * always verified at cos = self-cosine, and a cross-group pair
    * collides iff its reps do (identical signatures). This is also
    * the production ordering — exact dedup runs before near-dup — and
    * the SemDeDup paper's own discipline. The cap
    * ([[cappedCosinePairs]]) stays as the backstop for the case
    * collapse can't touch: a pile of DISTINCT-but-similar vectors in
    * one bucket. */
  /** Memoized exact-dup member map for [[collapseExpandPairs]], built
    * once per embeddings snapshot: the by-value window + checkpoint +
    * dup-free scalar count is a pure function of the corpus, so
    * q_semdedup and q_cosine_dedup_lsh share one build. Value =
    * (checkpointed member map, dup-free flag). At 100 TB this is the
    * "exact dedup runs first, once" production table, written next to
    * the pair manifests under the same snapshot id. */
  private[graft] def memberMapFor(spark: SparkSession,
      dir: String): (DataFrame, Boolean) = {
    import org.apache.spark.sql.expressions.Window
    graft.Artifacts.memo("vec-member-map", spark, dir, Seq("embeddings")) {
      // the canonical (vec_id, v) base is constructed HERE, not passed
      // in: the memo key is (dir, snapshot) only, so a caller-supplied
      // filtered/normalized projection would silently poison every
      // other call site's map
      val base = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
      // member map (vec_id → group rep) via a window min over the
      // vector VALUE — content equality (no hash-collision risk), and
      // no row ever holds a whole group (a collect_list formulation
      // would put a 10⁸-copy group into one multi-GB array row); the
      // shuffle is the same one hash-partition by v a groupBy would
      // pay. Checkpointed: consumed by the rep funnel and all three
      // expansion joins, across every funnel query on this corpus.
      val members = base
        .withColumn("rep_id",
          min(col("vec_id")).over(Window.partitionBy(col("v"))))
        .localCheckpoint()
      // dup-free flag: one scalar aggregate over the already-
      // materialized checkpoint decides whether collapse is identity.
      // coalesce: sum() over an EMPTY corpus is NULL and getLong would
      // throw — an empty base takes the identity path.
      val counts = members.agg(count(lit(1)),
        coalesce(sum(when(col("vec_id") === col("rep_id"), 1L)
          .otherwise(0L)), lit(0L))).head()
      (members, counts.getLong(0) == counts.getLong(1))
    }
  }

  private[graft] def collapseExpandPairs(
      spark: SparkSession, dir: String,
      threshold: Double)(
      funnel: DataFrame => DataFrame): DataFrame = {
    val (members, dupFree) = memberMapFor(spark, dir)
    // dup-free fast path (r12): a corpus with no exact duplicates (the
    // common healthy case) skips the three expansion joins outright
    // instead of running them as no-ops
    if (dupFree)
      return funnel(members.select(col("vec_id"), col("v")))
    val reps = members.where(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("v"))
    val repPairs = funnel(reps)
    // cross-group expansion: every member pair of a found rep pair,
    // re-canonicalized a < b (member ids interleave across groups);
    // flat equi-joins at member grain — output-sized, never wider
    val cross = repPairs
      .join(members.select(col("rep_id").as("a_id"), col("vec_id").as("x")), Seq("a_id"))
      .join(members.select(col("rep_id").as("b_id"), col("vec_id").as("y")), Seq("b_id"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("cos"))
    // within-group pairs: always candidates in the uncollapsed funnel
    // (identical vectors share all buckets), verified at self-cosine —
    // computed ONCE per group through the same kernel (bit-identical
    // values), then joined onto the id-only pair stream. The pair
    // stream itself is output-bound: those m²/2 rows are emitted
    // either way.
    val groupCos = reps.select(col("vec_id").as("rep_id"),
      F.roundBin(F.cosineSim(col("v"), col("v")), 4).as("cos"))
    val within = members.select(col("rep_id"), col("vec_id").as("x"))
      .join(members.where(col("vec_id") =!= col("rep_id"))
        .select(col("rep_id"), col("vec_id").as("y")), Seq("rep_id"))
      .where(col("x") < col("y"))
      .join(groupCos, Seq("rep_id"))
      .where(col("cos") >= threshold)
      .select(col("x").as("a_id"), col("y").as("b_id"), col("cos"))
    // disjoint by construction (cross spans two groups, within one) and
    // each side is already distinct — no extra shuffle needed
    cross.unionByName(within)
  }

  /** The trained coarse quantizer as a (c_id, cv) frame — the memoized
    * [[centroids]] artifact, exposed so the SQL-interface spec can
    * register it as a view and express the SemDeDup funnel as raw SQL
    * (r14, verdict item 8). */
  private[graft] def trainedCentroids(spark: SparkSession,
                                      dir: String): DataFrame = {
    import spark.implicits._
    centroids(spark, dir, nlistFor(corpusSize(spark, dir))).toSeq.toDF("c_id", "cv")
  }

  /** [[trainedCentroids]] collapsed to the one sorted array<struct> row
    * the native nearest-centroid kernels take. */
  private def centroidList(spark: SparkSession, dir: String): DataFrame =
    trainedCentroids(spark, dir)
      .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))

  private[graft] def semDedupCandidates(spark: SparkSession, dir: String,
                                        probes: Int): DataFrame = {
    val cents = centroidList(spark, dir)
    // r12: exact-dup pre-collapse — identical vectors get identical
    // top-k lists, so assignment + within-list search run once per
    // DISTINCT vector and found pairs expand back over the member
    // lists ([[collapseExpandPairs]]); the quantizer itself still
    // trains on the full corpus (same memoized artifact as the ANN
    // index)
    collapseExpandPairs(spark, dir, 0.3) { reps =>
    val assigned = reps.join(broadcast(cents))
      .select(col("vec_id"), col("v"),
        explode(F.nearestCentroids(col("v"), col("cents"), probes)).as("list_id"))
    // within-list self-join: the list id is the block key, so the
    // shuffle is corpus×probes rows wide and the quadratic work is
    // confined to each list. The vectors DO ride this one exchange —
    // deliberately, the LSH-funnel index layout argument: this IS the
    // index build (at 100 TB the assigned corpus is written once,
    // partitioned by list_id, and the self-join is its co-partitioned
    // self-probe), and collisions cosine-verify map-side inside the
    // join so only the ≥-threshold survivor set shuffles again. A
    // pair found in both shared lists collides twice → distinct on
    // the survivor set (result-sized, same argument as the LSH
    // funnel's).
    // SYMMETRIC top-k co-probing is a measured choice (r13): the
    // FAISS-style ASYMMETRIC split (index side top-1, query side
    // top-k, candidates when either member's probes cover the other's
    // home list) was built and measured at this fixture's hard-end
    // 0.3 cut — asym@8 = 0.671 recall at sf0.1, asym@16 = 0.871,
    // asym@24 = 0.963 vs symmetric@8 = 0.983 at comparable wall time —
    // because weakly-similar boundary pairs often have NEITHER
    // member's home list inside the other's probe set. At SemDeDup's
    // production high-cut regime the asymmetric split is the cheaper
    // choice (pair volume ~k/k² of symmetric's); at this fixture's
    // operating point symmetric co-probing buys strictly better
    // recall for the same time, so it ships.
    // capped grid-salted self-probe (r12): same pair set as the bare
    // list_id self-join, without the one-degenerate-list m² task
    // hazard (see [[cappedCosinePairs]])
    cappedCosinePairs(assigned.select(col("list_id"), col("vec_id"), col("v")),
      Seq("list_id"), 0.3)
    }
  }

  private[graft] def semDedupFound(spark: SparkSession, dir: String,
                                   probes: Int = 8): (DataFrame, Double) = {
    val pairs = semDedupCandidates(spark, dir, probes).localCheckpoint()
    val exact = exactCosineSamplePairKeys(spark, dir)
    require(exact.isEmpty || !pairs.isEmpty,
      s"semDedup: total recall loss — ${exact.length} sampled exact " +
        "pairs exist but the cluster-blocked search produced zero")
    // distributed membership (r14, verdict item 2) — see
    // [[distributedRecall]]
    val recall = distributedRecall(spark, exact, pairs)
    (pairs.orderBy(col("a_id"), col("b_id")), recall)
  }

  /** Oracle-gated SemDeDup (see [[semDedupFound]]). */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val (found, recall) = semDedupFound(spark, dir)
    // same found-⊆-exact precision claim as [[cosineDedupLsh]] (r12)
    val precision = sameLabelPrecisionOk(spark, dir, found)
    exactCosinePairsDf(spark, dir)._1
      .withColumn("recall_ok", lit(recall >= MinSemDedupRecall))
      .withColumn("precision_ok", lit(precision))
      .orderBy(col("a_id"), col("b_id"))
  }

  // ───────────────────────────────────────────────────────────────────
  // E3 × ST (r14, verdict item 5): INCREMENTAL SemDeDup — the one
  // dedup funnel that had no incremental form (minhash has
  // q_simjoin_incremental/q_stream_neardup, ANN has q_stream_ann).
  // The continuous-crawl shape: the corpus is already indexed (each
  // vector soft-assigned to its top-`probes` cluster lists under the
  // trained quantizer — the maintained IVF artifact, memoized like
  // [[centroids]]); a new BATCH arrives, assigns ONLY its own
  // vectors under the same quantizer, and probes the indexed cluster
  // lists — per-ingest work O(batch × probes × list load), nothing
  // corpus-sized recomputed. Corpus/batch carved from vec_id parity
  // (the incrementalDedup fixture convention) so both sides populate
  // at every SF. Symmetric top-`probes` co-probing on both sides —
  // the r13-measured choice at the fixture's hard-end 0.3 cut; at a
  // production high cut the asymmetric (index top-1) split is the
  // cheaper point. A hot list is a plain two-sided equi-join key here
  // (not a self-join), so AQE's skew-join split applies; the
  // self-join grid cap isn't needed.
  // ───────────────────────────────────────────────────────────────────

  /** Memoized corpus-side IVF index: even-id vectors exploded to
    * their top-`probes` home lists, checkpointed once per (dir, probes,
    * embeddings snapshot). The spec asserts reference identity across
    * calls — the mechanical O(new)-per-ingest proof. */
  private[graft] def semDedupIndex(spark: SparkSession, dir: String,
                                   probes: Int = 8): DataFrame =
    graft.Artifacts.memo("sem-index", spark, dir, Seq("embeddings"), probes) {
      val e = emb(spark, dir)
        .where(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id"), col("embedding").as("v"))
      // the SAME memoized quantizer artifact the batch funnel and the
      // ANN index train — one trained object per corpus snapshot
      e.join(broadcast(centroidList(spark, dir)))
        .select(col("vec_id"), col("v"),
          explode(F.nearestCentroids(col("v"), col("cents"), probes)).as("list_id"))
        .select(col("list_id"), col("vec_id"), col("v"))
        .localCheckpoint()
    }

  /** The live incremental probe: assign `batch` under the memoized
    * quantizer, join the indexed corpus lists, verify cosine ≥ `t`
    * map-side. Returns DISTINCT (corpus_id, batch_id, cos) — a pair
    * sharing several probe lists collides more than once. */
  private[graft] def semDedupIncrementalFound(
      spark: SparkSession, dir: String, batch: DataFrame,
      probes: Int = 8, t: Double = 0.3): DataFrame = {
    val idx = semDedupIndex(spark, dir, probes)
    val assigned = batch.join(broadcast(centroidList(spark, dir)))
      .select(col("vec_id").as("batch_id"), col("v").as("bv"),
        explode(F.nearestCentroids(col("v"), col("cents"), probes)).as("list_id"))
    idx.select(col("list_id"), col("vec_id").as("corpus_id"), col("v").as("cv0"))
      .join(assigned, Seq("list_id"))
      .withColumn("cos", expr("cosine_sim(cv0, bv)"))
      .where(col("cos") >= t)
      .select(col("corpus_id"), col("batch_id"),
        F.roundBin(col("cos"), 4).as("cos"))
      .distinct()
  }

  /** Oracle-gated incremental SemDeDup (the [[semDedup]] graduation
    * shape): the probe runs live against the memoized index, recall
    * is measured vs the sampled exact CROSS-parity pair keys and
    * precision vs the exhaustive same-label cross set — both
    * distributed ([[distributedRecall]]/[[distributedSubset]]) — and
    * the emitted rows are the exact label-blocked cross ground truth
    * (DuckDB re-derives it independently) plus the oracle-fixed
    * claims. The manifest therefore EQUALS the batch answer on the
    * union corpus restricted to corpus×batch pairs — the incremental
    * contract. */
  def semDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val batch = emb(spark, dir)
      .where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding").as("v"))
    val found = semDedupIncrementalFound(spark, dir, batch)
      .select(col("corpus_id").as("a_id"), col("batch_id").as("b_id"))
      .localCheckpoint()
    // sampled exact cross-parity keys (bounded by construction) for
    // the recall estimate, reoriented (a < b) → (even, odd)
    def crossKeys(rows: Array[Long]): Array[Long] = rows.flatMap { pk =>
      val a = pk >>> 32; val b = pk & 0xffffffffL
      if ((a & 1L) == (b & 1L)) None
      else if ((a & 1L) == 0L) Some((a << 32) | b)
      else Some((b << 32) | a)
    }
    val exactSample = crossKeys(exactCosineSamplePairKeys(spark, dir))
    require(exactSample.isEmpty || !found.isEmpty,
      s"semDedupIncremental: total recall loss — ${exactSample.length} " +
        "sampled exact cross pairs exist but the index probe produced zero")
    val recall = distributedRecall(spark, exactSample, found)
    // the exhaustive cross-parity truth stays a reorientation of the
    // CHECKPOINTED exact manifest — executor-side for both the
    // precision anti-join and the emission (r14, minhash discipline)
    val truth = exactCosinePairsDf(spark, dir)._1
      .where(pmod(col("a_id"), lit(2)) =!= pmod(col("b_id"), lit(2)))
      .select(
        when(col("a_id") % 2 === 0, col("a_id")).otherwise(col("b_id"))
          .as("corpus_id"),
        when(col("a_id") % 2 === 0, col("b_id")).otherwise(col("a_id"))
          .as("batch_id"),
        col("cos"))
    // precision over the same-label claim domain (the label-blocked
    // twin never enumerates cross-label pairs — the cosineDedupLsh
    // argument)
    val precision = sameLabelFoundPairs(spark, dir, found)
      .join(truth.select(col("corpus_id").as("a_id"),
        col("batch_id").as("b_id")), Seq("a_id", "b_id"), "left_anti")
      .isEmpty
    truth
      .withColumn("recall_ok", lit(recall >= MinSemDedupRecall))
      .withColumn("precision_ok", lit(precision))
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** Claim floor for the SemDeDup recall — set from measurement at
    * the fixture's hard-end 0.3 cut with top-8 soft assignment
    * (1.0 / 1.0 / 0.983 across SFs — r13, raised from top-3's
    * 0.76 / 0.75 / 0.54 per the r12 verdict; the paper's own knob, and
    * nearly free now that the member map and centroids are memoized);
    * 0.7 leaves fixture-regeneration margin while still failing the
    * hard-argmax formulation (0.12–0.27 measured), the old top-3
    * operating point at scale, and any assignment/training regression
    * that degrades toward them. */
  private val MinSemDedupRecall = 0.7

  /** OR-amplification table count: smallest L with
    * 1−(1−p^bits)^L ≥ targetRecall at similarity threshold t, where
    * p = 1−acos(t)/π is the per-hyperplane agreement probability of a
    * pair AT the threshold (pairs above t do better). Clamped to
    * ≤ 64 — beyond that the candidate stream cost exceeds what the
    * recall is worth at any threshold this engine declares. */
  private[graft] def lshTablesFor(bits: Int, t: Double, targetRecall: Double): Int = {
    val p1 = math.pow(1.0 - math.acos(t) / math.Pi, bits.toDouble)
    val l = math.ceil(math.log1p(-targetRecall) / math.log1p(-p1)).toInt
    math.min(64, math.max(1, l))
  }

  /** Memoized SAMPLED exact near-dup pair keys ((a_id << 32) | b_id),
    * built once per embeddings snapshot — the bruteTop10Ids discipline.
    * Corpora of < [[SampleFreeBelow]] vectors keep the exhaustive
    * exact twin (it is cheap); above that the twin computes cosines
    * for only 1-in-[[ClaimSampleMod]] hash-chosen pairs — BUT the
    * guard is on the resulting PAIR count, not just the vector count:
    * if the sample lands under [[MinSamplePairs]] qualifying pairs
    * (a big corpus with few near-dups — a tiny sample would make the
    * recall estimate lumpy, and an EMPTY one would re-open the
    * vacuous-pass hole the zero-pair require closes), the build falls
    * back to the exhaustive twin. Exhaustive ground truth remains
    * oracle-checked via q_cosine_dedup. */
  private val ClaimSampleMod = 4
  private val SampleFreeBelow = 1000L
  private val MinSamplePairs = 100
  private[graft] def exactCosineSamplePairKeys(spark: SparkSession, dir: String): Array[Long] =
    graft.Artifacts.memo("exact-cos-sample", spark, dir, Seq("embeddings")) {
      def keys(mod: Int): Array[Long] =
        exactPairs(spark, dir, mod).select(col("a_id"), col("b_id")).collect().map { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          require(a >= 0 && b >= 0 && a < (1L << 31) && b < (1L << 31),
            s"pair key packing needs ids < 2^31, got ($a, $b)")
          (a << 32) | b
        }
      if (corpusSize(spark, dir) < SampleFreeBelow) keys(1)
      else {
        val sampled = keys(ClaimSampleMod)
        if (sampled.length >= MinSamplePairs) sampled else keys(1)
      }
    }

  /** LSH signature width for an n-vector corpus: enough hyperplanes
    * that the AVERAGE bucket holds ~targetBucket vectors —
    * ceil(log2(n / targetBucket)) — clamped to [4, 24] (below 4 the
    * buckets stop discriminating; 2^24 bucket ids cover any corpus
    * whose per-bucket scan is the intended unit of work). Corpus-size
    * derived, so the same code under-buckets neither the 500-vector
    * fixture nor a 10^10-vector production table (knob math in
    * SCALE.md §vectors). */
  private[graft] def sigBitsFor(n: Long, targetBucket: Int = 64): Int = {
    val raw = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** IVF list count: ~sqrt(n) lists — the classic balance point
    * between per-vector assignment cost (O(nlist) per row) and
    * per-query probe cost (O(nprobe · n / nlist)) — clamped to
    * [4, 65536]. */
  private[graft] def nlistFor(n: Long): Int =
    math.min(65536, math.max(4, math.round(math.sqrt(n.toDouble)).toInt))

  /** Recall instrumentation for the ANN queries: emits `recall_10`
    * (fraction of exact [[knnBrute]] neighbors the ANN probe found)
    * and `recall_ok` (recall_10 ≥ minRecall) on every output row. The
    * queries stay rows-only under the driver gate (bucket/centroid
    * choice is engine-defined) but are SELF-ASSERTING: a recall
    * regression flips recall_ok to false in the verify dump, and
    * VectorQueriesSpec asserts the column.
    *
    * The exact top-10 ids are memoized per embeddings snapshot
    * ([[bruteTop10Ids]] — the ANALYZE-TABLE discipline of
    * Tables.rowCount / saltedJoin's hot keys): the gated queries audit
    * recall against a FIXED probe, so the ≤k-row brute result is a
    * table statistic, not per-query work, and recall is a driver-side
    * ≤k-element IN list — no join, no window count, no extra scan in
    * the steady state. This is also the production posture: recall
    * auditing samples a fixed probe set against a maintained exact
    * answer, it does not brute-force per query. */
  private[graft] def bruteTop10Rows(spark: SparkSession, dir: String): Array[(Long, Double)] =
    graft.Artifacts.memo("brute-top10", spark, dir, Seq("embeddings")) {
      knnBrute(spark, dir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
  private def bruteTop10Ids(spark: SparkSession, dir: String): Array[Long] =
    bruteTop10Rows(spark, dir).map(_._1)

  private def withRecall(ann: DataFrame, bruteIds: Array[Long],
                         minRecall: Double = 0.8): DataFrame = {
    // recall = |ANN ∩ exact| / |exact| stamped on every row via a
    // one-partition window over the ≤k ANN rows. The denominator is
    // the brute side's ACTUAL row count, not the nominal k: a brute
    // result shorter than k (tiny corpus, changed limit) must not
    // understate recall. Empty exact set ⇒ vacuously 1.0.
    val w = Window.partitionBy(lit(1))
    val recall =
      if (bruteIds.isEmpty) lit(1.0)
      else F.roundBin(
        sum(when(col("vec_id").isin(bruteIds.map(Long.box).toSeq: _*), 1.0)
          .otherwise(0.0)).over(w) / lit(bruteIds.length.toDouble), 2)
    ann.withColumn("recall_10", recall)
      .withColumn("recall_ok", col("recall_10") >= lit(minRecall))
  }

  /** E3 scale path #2: IVF (inverted-file) ANN. Coarse quantizer =
    * `nlist` deterministic seed centroids (the lowest-vec_id vectors —
    * a stand-in for k-means that keeps the fixture pipeline seedless);
    * every vector is assigned to its nearest centroid by cosine
    * (broadcast centroids, map-side, no shuffle of the corpus), and a
    * query scans only the `nprobe` lists nearest to it. At 100 TB the
    * assignment is written once partitioned by list id; each query
    * reads nprobe/nlist of the corpus. Rows-only under the gate
    * (centroid choice is engine-defined); recall vs knnBrute is
    * spec-checked. */
  def annIvf(spark: SparkSession, dir: String,
             nlistOpt: Option[Int] = None, nprobeOpt: Option[Int] = None): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val nlist = nlistOpt.getOrElse(nlistFor(corpusSize(spark, dir)))
    val nprobe = nprobeOpt.getOrElse(math.max(2, nlist / 4))
    val centroids = e.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    ivfSearch(e, centroids, nprobe)
  }

  /** Shared IVF probe: assignment is argmax cosine over the broadcast
    * centroid LIST — the nlist centroids collapse to one array<struct>
    * row (sort_array → ties break to lowest c_id inside
    * nearest_centroid), broadcast-nested-loop-joined onto the corpus,
    * and the native nearest_centroid kernel picks the list in a single
    * fused loop. Truly map-side: the corpus branch has no Exchange
    * (asserted in PlanSpec); the r1 formulation (corpus×nlist expand +
    * per-vec_id row_number window) shuffled 16× the corpus on vec_id.
    * The query scans only the `nprobe` lists nearest to it. */
  private def ivfSearch(e: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val centroidList = centroids
      .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
    val assigned = e.join(broadcast(centroidList))
      .select(col("vec_id"), col("v"),
        F.nearestCentroid(col("v"), col("cents")).as("list_id"))
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // probe set: the nprobe centroid lists nearest to the query
    val probes = centroids.join(broadcast(q))
      .select(col("c_id"),
        F.cosineSim(col("cv"), col("qv")).as("qc"))
      .orderBy(col("qc").desc, col("c_id")).limit(nprobe)
      .select(col("c_id").as("list_id"))
    assigned.join(broadcast(probes), Seq("list_id"))
      .join(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF with a k-means-TRAINED coarse quantizer (Lloyd's iterations),
    * replacing annIvf's seed centroids — the quantizer quality knob that
    * decides real-world recall. Faiss-style training discipline for
    * 100 TB: train on a hash-sampled subset (~`trainPerList` vectors
    * per list — centroid estimates don't improve past a few hundred
    * samples/list, so training cost is independent of corpus size),
    * assignment stays map-side (broadcast centroids + native
    * nearest_centroid), and the per-iteration mean reduces through
    * partial aggregation: posexplode to (list, pos, x), map-side
    * combine, shuffle only nlist×dim partial sums — never vectors.
    * Centroids (nlist≈√n rows) collect to the driver between
    * iterations — they are broadcast-sized by definition; empty lists
    * keep their previous centroid. Deterministic given the fixture
    * (seeded init, xxhash sample, pos-sorted reassembly); rows-only
    * under the gate, recall + objective-improvement spec-checked. */
  def annIvfKmeans(spark: SparkSession, dir: String, iters: Int = 2,
                   nlistOpt: Option[Int] = None, nprobeOpt: Option[Int] = None,
                   trainPerList: Int = 256): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val nlist = nlistOpt.getOrElse(nlistFor(corpusSize(spark, dir)))
    val nprobe = nprobeOpt.getOrElse(math.max(2, nlist / 4))
    val cents = centroids(spark, dir, nlist, iters, trainPerList)
    ivfSearch(e, cents.toSeq.toDF("c_id", "cv"), nprobe)
  }

  /** Trained coarse quantizers, memoized per (knobs, embeddings
    * snapshot) — the Faiss index-build discipline: training is an
    * OFFLINE build step whose product (nlist≈√n centroids,
    * broadcast-sized by definition) is reused by every query until the
    * corpus changes; per-query cost is the probe, not the build. */
  private def centroids(spark: SparkSession, dir: String, nlist: Int,
      iters: Int = 2, trainPerList: Int = 256): Array[(Long, Array[Float])] =
    graft.Artifacts.memo("centroids", spark, dir, Seq("embeddings"), nlist, iters, trainPerList) {
      trainCentroids(spark, emb(spark, dir).select(col("vec_id"), col("embedding").as("v")),
        corpusSize(spark, dir), nlist, iters, trainPerList)
    }

  private def trainCentroids(spark: SparkSession, e: DataFrame, n: Long,
                             nlist: Int, iters: Int,
                             trainPerList: Int): Array[(Long, Array[Float])] = {
    import spark.implicits._
    // deterministic hash sample of ~trainPerList·nlist training vectors
    val keepPerMille = math.min(1000L, trainPerList.toLong * nlist * 1000 / math.max(1L, n))
    val train = if (keepPerMille >= 1000L) e
      else e.where(pmod(xxhash64(col("vec_id")), lit(1000L)) < lit(keepPerMille))
    // init = the nlist lowest-id vectors of the TRAIN subset (r11):
    // previously this ranked the FULL corpus, so at real scale the init
    // TakeOrdered scanned 100 TB for nlist seed rows; ranking the
    // already-hash-sampled training set bounds the init scan by the
    // training sample (trainPerList·nlist rows) while staying
    // deterministic. On corpora small enough that train == e (every
    // fixture SF) the seeds — and therefore the trained quantizer and
    // its spec-pinned recall — are bit-identical to the corpus-ranked
    // form. Collect is nlist rows, broadcast-sized by definition.
    var cents: Array[(Long, Array[Float])] = train
      .orderBy(col("vec_id")).limit(nlist)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for (_ <- 1 to iters) {
      val centDf = cents.toSeq.toDF("c_id", "cv")
      val centroidList = centDf
        .agg(sort_array(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
      val means = train.join(broadcast(centroidList))
        .select(F.nearestCentroid(col("v"), col("cents")).as("list_id"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .groupBy(col("list_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("sx"), col("cnt")))).as("ps"))
        .select(col("list_id"),
          expr("transform(ps, p -> cast(p.sx / p.cnt as float))").as("cv"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .toMap
      cents = cents.map { case (id, old) => id -> means.getOrElse(id, old) }
    }
    cents
  }

  /** E3 scale path: random-hyperplane LSH ANN via the native
    * hyperplane_bucket expression (graft.functions.HyperplaneBucket —
    * one fused loop with a cached sign matrix per (bits, dim, seed);
    * the HOF formulation codegen'd a bits×dim expression tree).
    * Buckets the corpus under L seeded tables, then searches only the
    * query's probe buckets. At 100 TB the bucketed index is written
    * once (partitioned by (table, bucket)) and each query probes its
    * partitions — no corpus scan. No SQL oracle (hash-derived
    * hyperplanes); verified by VectorQueriesSpec. */
  /** Driver-gate variants of the three ANN queries: identical probe
    * plans plus [[withRecall]] instrumentation. Declared in SparkEntry
    * so the verify dump carries a quantified recall@10 and a
    * recall_ok assertion column every round; the raw functions stay
    * as-is for PlanSpec's no-shuffle assertions on the probe path. */
  def annLshGated(spark: SparkSession, dir: String): DataFrame =
    withRecall(annLsh(spark, dir), bruteTop10Ids(spark, dir))
  def annIvfGated(spark: SparkSession, dir: String): DataFrame =
    withRecall(annIvf(spark, dir), bruteTop10Ids(spark, dir))
  def annIvfKmeansGated(spark: SparkSession, dir: String): DataFrame =
    withRecall(annIvfKmeans(spark, dir), bruteTop10Ids(spark, dir))

  /** Accuracy-gated ORACLE form of an ANN probe (r10, the
    * q_source_minhash graduation pattern): run the real ANN probe,
    * measure recall@10 against the memoized exact [[knnBrute]]
    * answer, then emit the EXACT neighbor rows — which DuckDB pins
    * independently with the q_knn_brute SQL — plus a `recall_ok`
    * claim the oracle fixes at TRUE. The engine-defined part of the
    * ANN answer (bucket/centroid/projection choice) never reaches the
    * hashed output, but a recall regression flips recall_ok on every
    * row → DuckDB hash mismatch AND the Verify claim gate (exit 3).
    * The probe's ≤10-row result is collected driver-side — the same
    * bounded-collect discipline as [[bruteTop10Rows]] — and the exact
    * rows replay from the per-dir memo as a LocalRelation, so the
    * brute-force corpus scan runs once per process (q_knn_brute still
    * measures it live), not once per ANN query. */
  private def annOracleGated(spark: SparkSession, dir: String,
                             ann: DataFrame, minRecall: Double = 0.8): DataFrame = {
    import spark.implicits._
    val brute = bruteTop10Rows(spark, dir)
    val found = ann.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val recall =
      if (brute.isEmpty) 1.0
      else brute.count(r => found(r._1)).toDouble / brute.length
    brute.toSeq.toDF("vec_id", "cos")
      .withColumn("recall_ok", lit(recall >= minRecall))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  def annLshOracle(spark: SparkSession, dir: String): DataFrame =
    annOracleGated(spark, dir, annLsh(spark, dir))
  def annIvfOracle(spark: SparkSession, dir: String): DataFrame =
    annOracleGated(spark, dir, annIvf(spark, dir))
  def annIvfKmeansOracle(spark: SparkSession, dir: String): DataFrame =
    annOracleGated(spark, dir, annIvfKmeans(spark, dir))
  def annProjectedOracle(spark: SparkSession, dir: String): DataFrame =
    annOracleGated(spark, dir, annProjected(spark, dir))

  /** E3 scale path #4: coarse-then-fine ANN via JL projection — score
    * every vector CHEAPLY in the 32-dim [[graft.functions.RandProject]]
    * space (2× fewer multiplies and 2× less memory traffic per
    * candidate than the 64-dim input), keep the top-`cand` candidates,
    * then re-rank only those against the full-dimension vectors. The
    * classic two-stage retrieval shape: at 100 TB the projected
    * vectors are a materialized smaller column (scan less, score less)
    * and the exact re-rank touches `tables`×`cand` rows per query.
    *
    * Like [[annLsh]], a SINGLE projection tops out low on the
    * near-uniform fixture (true-neighbor cosine margins are within JL
    * distortion ~√(2/k), so rank inversions push real neighbors past
    * any affordable single cut — measured 0.8 recall@10 at sf0.1 even
    * at a 6% candidate budget). The same amplification fixes it:
    * `tables` INDEPENDENT projections (seeded sign matrices), top-
    * `cand` per table, candidates OR-ed before the exact re-rank —
    * misses decorrelate, recall → 1-(1-p)^L. Every stage is a
    * broadcast-query map-side scan + TakeOrderedAndProject; no corpus
    * shuffle; recall vs exact brute is gated via recall_ok. */
  def annProjected(spark: SparkSession, dir: String,
                   k: Int = 32, tables: Int = 6,
                   candOpt: Option[Int] = None): DataFrame = {
    // per-table candidate budget ~0.5% of the corpus (floor 128)
    val cand = candOpt.getOrElse(
      math.max(128, (corpusSize(spark, dir) / 200L).toInt))
    val base = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val projCols = (0 until tables).map(t =>
      F.randProject(col("v"), k, 42L + t).as(s"p$t"))
    val e = base.select(col("vec_id") +: col("v") +: projCols: _*)
    val q = e.orderBy(col("vec_id")).limit(1)
      .select((col("vec_id").as("q_id") +: col("v").as("qv") +:
        (0 until tables).map(t => col(s"p$t").as(s"qp$t"))): _*)
    val perTable = (0 until tables).map { t =>
      e.join(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("vec_id"), F.cosineSim(col(s"p$t"), col(s"qp$t")).as("pcos"))
        .orderBy(col("pcos").desc, col("vec_id")).limit(cand)
        .select(col("vec_id"))
    }
    val candidates = perTable.reduce(_ union _).distinct()
    base.join(broadcast(candidates), Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
  }

  def annProjectedGated(spark: SparkSession, dir: String): DataFrame =
    withRecall(annProjected(spark, dir), bruteTop10Ids(spark, dir))

  /** Multi-table: L independent hyperplane families (seeded kernel),
    * candidates OR-ed across tables. A single table multiprobed at
    * Hamming ≤2 tops out near p ≈ 0.2–0.4 recall when true neighbors
    * sit at weak cosine (near-orthogonal angles flip each sign bit
    * with prob ≈ 0.4 — the r6 sf0.1 recall-gate finding); OR-ing L
    * tables amplifies to 1-(1-p)^L (L=8, p=0.4 ⇒ ~0.98) while
    * per-query work stays L × probes × targetBucket candidates —
    * CONSTANT in corpus size, vs brute force's O(n). */
  /** Multi-probe signature set: the identity bucket plus every
    * Hamming-distance-1 and -2 neighbor — 1 + bits + C(bits,2) masks. */
  private def hamming2Masks(bits: Int): Seq[Long] =
    0L +: ((0 until bits).map(i => 1L << i) ++
      (for { i <- 0 until bits; j <- i + 1 until bits }
        yield (1L << i) | (1L << j)))

  /** Top-`k` (vec_id, cos) from the LSH probe — the dense-leg feed for
    * [[graft.operators.TextQueries.hybridRankAnn]] (r14): same index,
    * same probe plan, caller-sized cut. */
  def annLshScored(spark: SparkSession, dir: String, k: Int): DataFrame =
    annLsh(spark, dir, k = k)

  /** Memoized batch LSH INDEX — the (vec_id, v, b0..bL) signature
    * table, once per (bits, tables, embeddings snapshot): this is the
    * maintained artifact the probe reads (the streaming twin
    * [[streamAnnDrain]] persists exactly this layout incrementally; at
    * 100 TB it is a table written once partitioned by (t, bucket)).
    * Build once, probe per query; [[annLsh]] itself still measures the
    * full probe (multi-probe explode, posting join, candidate fetch,
    * exact re-rank). */
  private def lshIndex(spark: SparkSession, dir: String,
      bits: Int, tables: Int): DataFrame =
    graft.Artifacts.memo("lsh-index", spark, dir, Seq("embeddings"), bits, tables) {
      val base = emb(spark, dir).select(col("vec_id"), col("embedding").as("v"))
      val bucketCols = (0 until tables).map(t =>
        F.hyperplaneBucket(col("v"), bits, t.toLong).as(s"b$t"))
      base.select(col("vec_id") +: col("v") +: bucketCols: _*).localCheckpoint()
    }

  def annLsh(spark: SparkSession, dir: String,
             targetBucket: Int = 64, tables: Int = 8,
             k: Int = 10): DataFrame = {
    val bits = sigBitsFor(corpusSize(spark, dir), targetBucket)
    val e = lshIndex(spark, dir, bits, tables)
    val base = e.select(col("vec_id"), col("v"))
    val q = e.orderBy(col("vec_id")).limit(1)
    // multi-probe per table: the query's own bucket plus every
    // Hamming-distance-1 and -2 neighbor signature — recall insurance
    // for vectors near hyperplane boundaries (each flipped bit is one
    // plane the true neighbor may sit on the far side of). Probe count
    // is L × (1 + bits + C(bits,2)) — 2408 at the bits=24 production
    // clamp with L=8, of L·2^24 (table, bucket) partitions: a
    // vanishing fraction of the corpus. The probe list is query-side
    // and broadcast; the corpus stays put.
    val masks = hamming2Masks(bits)
    val probeStructs = for { t <- 0 until tables; m <- masks }
      yield struct(lit(t).as("table"),
        col(s"b$t").bitwiseXOR(lit(m)).as("bucket"))
    val probes = q.select(col("vec_id").as("q_id"), col("v").as("qv"),
      explode(array(probeStructs: _*)).as("p"))
      .select(col("q_id"), col("qv"), col("p.table"), col("p.bucket"))
    // candidate resolution on (id, table, bucket) LONGS — the vector
    // payload never rides the explode; at 100 TB this is the
    // written-once L-table bucket index, probed by partition key
    val sigs = e.select(col("vec_id"), posexplode(
        array((0 until tables).map(t => col(s"b$t")): _*))
      .as(Seq("table", "bucket")))
    val cand = sigs.join(broadcast(probes.select(col("table"), col("bucket"))),
        Seq("table", "bucket"))
      .select(col("vec_id")).distinct()
    // fetch candidate vectors map-side (candidate set is bounded by
    // L × probes × bucket size — broadcastable by construction)
    base.join(broadcast(cand), Seq("vec_id"))
      .crossJoin(broadcast(q.select(col("vec_id").as("q_id"), col("v").as("qv"))))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"),
        F.roundBin(expr("cosine_sim(v, qv)"), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  // ───────────────────────────────────────────────────────────────────
  // ST × E3: streaming ANN index maintenance (r11) — the
  // q_stream_neardup pattern applied to vectors: embeddings arrive in
  // micro-batches, each batch is hyperplane-bucketed under the same L
  // seeded tables as the batch [[annLsh]] index and APPENDED to the
  // persisted (t, bucket) index under a batchId subpath (overwrite —
  // idempotent under replay, the r11 drain discipline). Per-trigger
  // work is O(new vectors · L): nothing corpus-sized is recomputed,
  // bucketing needs no history, and the index is the SAME layout the
  // batch probe reads — so a query probes the maintained index
  // identically to the batch-built one. StreamAnnSpec proves the
  // incrementality mechanically (second drain = 1 batch, prior index
  // files byte-identical, stream index == batch-computed signatures);
  // the gate query emits the exact brute-force rows + recall_ok vs
  // the maintained-index probe (the annOracleGated graduation shape).
  // At 100 TB the index is a bucketed table partitioned by (t,
  // bucket); each trigger writes only its own vectors' bucket rows
  // and queries prune to their probe partitions.
  // ───────────────────────────────────────────────────────────────────

  private val annIdxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("t",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))))

  /** Embeddings wire zone: three JSONL files (vec_id mod-3 split) so
    * maxFilesPerTrigger=1 yields three micro-batches whose union is
    * the corpus — the docsZone discipline for vectors. Built once per
    * embeddings snapshot. */
  private[graft] def vecZone(spark: SparkSession, dir: String): String =
    graft.Artifacts.memo("vec-zone", spark, dir, Seq("embeddings")) {
      val out = graft.Artifacts.tempDir("graft-vec-zone")
      val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
      (0 until 3).foreach { k =>
        e.where(pmod(col("vec_id"), lit(3)) === k)
          .select(to_json(struct(col("vec_id"), col("embedding"))).as("value"))
          .coalesce(1).write.mode("append").text(out.toString)
      }
      out.toString
    }

  /** One AvailableNow drain of the ANN index maintenance stream —
    * extracted so StreamAnnSpec can run SUCCESSIVE drains against one
    * checkpoint/index and assert the O(new data) contract. Returns
    * the number of foreachBatch batches this drain ran. */
  private[graft] def streamAnnDrain(spark: SparkSession, in: String,
      idx: String, ck: String, bits: Int, tables: Int): Long = {
    graft.functions.GraftFunctions.install(spark)
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    val wireSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    val wire = spark.readStream.schema(wireSchema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.Tables.withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
      val q = wire.writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nBatches.incrementAndGet()
          val tb = array((0 until tables).map(t =>
            struct(lit(t).as("t"),
              F.hyperplaneBucket(col("v"), bits, t.toLong).as("bucket"))): _*)
          batch.select(col("vec_id"), col("embedding").as("v"))
            .select(col("vec_id"), col("v"), explode(tb).as("tb"))
            .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"),
              col("vec_id"), col("v"))
            .write.mode("overwrite").parquet(s"$idx/batch-$batchId")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    nBatches.get()
  }

  /** The maintained bucket index (batchId-subpathed parquet). */
  private[graft] def streamAnnIndex(spark: SparkSession, idx: String): DataFrame =
    spark.read.schema(annIdxSchema)
      .option("recursiveFileLookup", "true").parquet(idx)

  /** Probe a (t, bucket, vec_id, v) index exactly like [[annLsh]]
    * probes its inline one: query = lowest vec_id, Hamming ≤ 2
    * multi-probe per table, candidates resolve inside the bucket join
    * (the index carries the vectors), exact cosine re-rank top-10. */
  private[graft] def lshIndexProbe(spark: SparkSession, index: DataFrame,
      bits: Int, tables: Int): DataFrame = {
    val q = index.where(col("t") === 0).orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val probeStructs = for { t <- 0 until tables; m <- hamming2Masks(bits) }
      yield struct(lit(t).as("t"),
        F.hyperplaneBucket(col("qv"), bits, t.toLong).bitwiseXOR(lit(m)).as("bucket"))
    val probes = q.select(col("q_id"), col("qv"),
        explode(array(probeStructs: _*)).as("p"))
      .select(col("q_id"), col("qv"), col("p.t").as("t"), col("p.bucket").as("bucket"))
    index.join(broadcast(probes), Seq("t", "bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
      // a vec_id can surface from several probe buckets; its cos is a
      // pure function of (v, qv), so the pair dedups exactly
      .distinct()
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Gate query: drain the corpus through the maintenance stream,
    * probe the MAINTAINED index, and emit the exact brute rows + the
    * oracle-fixed recall claim (the annOracleGated shape — a
    * maintenance or probe regression flips recall_ok on every row). */
  def streamAnn(spark: SparkSession, dir: String): DataFrame =
    annOracleGated(spark, dir, streamAnnCounted(spark, dir)._1)

  private[graft] def streamAnnCounted(
      spark: SparkSession, dir: String): (DataFrame, Long) = {
    val in = vecZone(spark, dir)
    val Seq(idx, ck) = Seq("idx", "ck").map(k => graft.Artifacts.tempDir(s"graft-ann-$k"))
    val bits = sigBitsFor(corpusSize(spark, dir))
    val n = streamAnnDrain(spark, in, idx.toString, ck.toString, bits, 8)
    (lshIndexProbe(spark, streamAnnIndex(spark, idx.toString), bits, 8), n)
  }

  /** E3 hard-negative mining for contrastive training — for each
    * sampled anchor vector, the top-k most-similar vectors with a
    * DIFFERENT label (the "confusable" negatives a contrastive /
    * metric-learning loss wants, vs. the trivially-easy random ones).
    * Same bounded-aggregate shape as [[knnBatchAgg]]: anchors
    * broadcast, scoring map-side, per-anchor state capped at k by
    * [[graft.functions.TopKAgg]] partials, so the shuffle carries
    * ≤ k·partitions rows per anchor — never the scored set. The label
    * filter rides the broadcast-join condition (evaluated before the
    * cosine), and at corpus scale the anchor batch streams through the
    * same plan in fixed-size chunks. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("label"), col("embedding").as("v"))
    val q = e.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    e.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"),
        F.roundBin(F.cosineSim(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("q_id"))
      .agg(F.topK(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("vec_id"), col("t.score").as("cos"))
      .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
  }

  /** E3 per-dimension embedding statistics (mean/std per label) for
    * whitening / standardization / drift monitoring — via the
    * [[graft.functions.VecMomentsAgg]] one-pass moments fold instead
    * of the posexplode-and-shuffle plan (which would put |rows|·dim
    * exploded rows on the wire; the fold ships ONE (1+2·dim)-double
    * buffer per partition per label). The posexplode here runs on the
    * |labels|-row AGGREGATE, bounded by label-count × dim. */
  def vecDimstats(spark: SparkSession, dir: String): DataFrame = {
    val agg = emb(spark, dir)
      .groupBy(col("label"))
      .agg(F.vecMoments(col("embedding")).as("m"))
      .withColumn("d", ((size(col("m")) - 1) / 2).cast("int"))
    agg
      .select(col("label"), col("m"), col("d"),
        posexplode(expr("slice(m, 2, d)")).as(Seq("dim", "s")))
      .select(col("label"), col("dim"),
        F.roundBin(col("s") / element_at(col("m"), 1), 4).as("mean"),
        F.roundBin(sqrt(
          element_at(col("m"), col("dim") + col("d") + lit(2)) / element_at(col("m"), 1)
            - pow(col("s") / element_at(col("m"), 1), 2)), 4).as("std"))
      .orderBy(col("label"), col("dim"))
  }

  /** E3 Johnson-Lindenstrauss shrink (64 → 16 dims) with its own
    * audit: per label, the mean squared norm ratio ‖P(v)‖²/‖v‖² must
    * sit near 1 (JL unbiasedness; se = √(2/k·n_label)), asserted in a
    * `recall_ok` column that [[graft.Verify]] fails the dump on. The
    * projection is a map-only codegen'd expression with a
    * hash-derived sign matrix — nothing is shipped or broadcast, so
    * at 100 TB this is a pure scan-transform-write pass whose output
    * is 4× smaller; the audit aggregate is the usual one-shuffle
    * partial/final fold. No SQL oracle (DuckDB cannot reproduce the
    * xxhash sign matrix) → rows-only gate + the recall_ok assert +
    * the linearity/unbiasedness specs. */
  def randProjectAudit(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val e = emb(spark, dir)
      .select(col("label"),
        F.l2Norm(col("embedding")).as("n0"),
        F.l2Norm(F.randProject(col("embedding"), k, 42L)).as("n1"))
      .where(col("n0") > 0)
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        avg(pow(col("n1") / col("n0"), 2)).as("r"))
      .select(col("label"), col("n"),
        F.roundBin(col("r"), 4).as("mean_sq_ratio"),
        (abs(col("r") - 1.0) < 0.2).as("recall_ok"))
      .orderBy(col("label"))
  }

  /** Accuracy-gated ORACLE form of the JL audit (r10, the same
    * graduation pattern as the ANN family): the full audit runs —
    * projection kernel, per-label norm-ratio aggregation, JL
    * unbiasedness check — but the dump keeps only the columns DuckDB
    * can pin independently (label, the per-label nonzero-norm vector
    * count) plus the recall_ok claim the oracle fixes at TRUE. The
    * hash-derived mean_sq_ratio stays spec-asserted
    * (RandProjectSpec); a JL regression flips recall_ok on that
    * label's row → hash mismatch AND the Verify claim gate. */
  def randProjectOracle(spark: SparkSession, dir: String): DataFrame =
    randProjectAudit(spark, dir)
      .select(col("label"), col("n"), col("recall_ok"))
      .orderBy(col("label"))
}
