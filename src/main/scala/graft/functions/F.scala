package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnShim.{aggColumn, column, expression => expr}

/** Typed Column facade over graft's native Catalyst expressions.
  *
  * Builds each Catalyst expression DIRECTLY (via the graftshim
  * Column bridge), so these helpers resolve on any SparkSession —
  * no dependency on [[GraftFunctions]] registration. The SQL-name
  * registry still exists (for `spark.sql("... round_bin(x,2) ...")`
  * users via `spark.sql.extensions=graft.GraftExtensions`), but no
  * Scala call site goes through it.
  */
object F {
  /** DuckDB/C-convention binary-value rounding (see [[RoundBin]]).
    * Use this — not functions.round — for every oracle-compared double
    * column. */
  def roundBin(c: Column, scale: Int): Column =
    column(RoundBin(expr(c.cast("double")), expr(org.apache.spark.sql.functions.lit(scale))))

  def simhash64(c: Column): Column = column(SimHash64(expr(c)))

  def minhashSig(c: Column, numHashes: Int): Column =
    column(MinHashSig(expr(c), numHashes))

  def minhashBandHashes(c: Column, numHashes: Int, bands: Int): Column =
    column(MinHashBandHashes(expr(c), numHashes, bands))

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expr(a), expr(b)))

  /** Aggregate: element-wise-min union of MinHash signatures. */
  def minhashUnion(sig: Column, numHashes: Int): Column =
    aggColumn(MinHashUnionAgg(expr(sig), numHashes))

  /** Aggregate: bounded per-group top-k by (score DESC, id ASC) —
    * array<struct<score,id>>; partial buffers never exceed k rows
    * (see [[TopKAgg]]). */
  def topK(score: Column, id: Column, k: Int): Column =
    aggColumn(TopKAgg(expr(score.cast("double")), expr(id.cast("long")), k))

  /** Aggregate: Misra-Gries frequent-items sketch with ≤ capacity
    * counters (see [[FreqSketchAgg]]): array<struct<token,count>>
    * sorted (count DESC, token ASC), counts are lower bounds within
    * N/(capacity+1) of truth. */
  def freqSketch(key: Column, capacity: Int): Column =
    aggColumn(FreqSketchAgg(expr(key), capacity))

  /** Aggregate: mergeable log-histogram quantile sketch of a numeric
    * column, binary (see [[QSketchAgg]]); value-relative error ≤
    * 2^-(sub+1). */
  def qSketch(c: Column, sub: Int = 5): Column =
    aggColumn(QSketchAgg(expr(c), sub))

  /** Aggregate: exact pointwise-count fold of stored quantile sketches
    * (see [[QSketchUnionAgg]]); emits the merged sketch. */
  def qSketchUnion(c: Column, sub: Int = 5): Column =
    aggColumn(QSketchUnionAgg(expr(c), sub))

  /** Scalar: nearest-rank quantile estimate of a stored sketch (see
    * [[QSketchQuantile]]). */
  def qSketchQuantile(c: Column, p: Double): Column =
    column(QSketchQuantile(expr(c), p))

  /** Scalar: 2-D Morton key of two pre-scaled 21-bit coordinates (see
    * [[InterleaveBits]]) — the Z-order clustering key. */
  def interleaveBits(a: Column, b: Column): Column =
    column(InterleaveBits(expr(a), expr(b)))

  /** Aggregate: Count-Min frequency sketch of a column, binary (see
    * [[CmsAgg]]) — point frequency queries for ANY key without storing
    * keys; never undercounts, overcounts ≤ εN whp. */
  def cmsSketch(c: Column, depth: Int = 4, width: Int = 2048): Column =
    aggColumn(CmsAgg(expr(c), depth, width))

  /** Aggregate: exact cell-wise-add fold of stored CMS sketches (see
    * [[CmsUnionAgg]]); emits the merged sketch. */
  def cmsUnion(c: Column, depth: Int = 4, width: Int = 2048): Column =
    aggColumn(CmsUnionAgg(expr(c), depth, width))

  /** Scalar: point frequency estimate of a key in a stored CMS sketch
    * (see [[CmsEstimate]]). */
  def cmsEstimate(sketch: Column, key: Column): Column =
    column(CmsEstimate(expr(sketch), expr(key)))

  /** Aggregate: element-wise [n, Σx…, Σx²…] moments of a vector column
    * in one pass, no explode (see [[VecMomentsAgg]]). */
  def vecMoments(c: Column): Column = aggColumn(VecMomentsAgg(expr(c)))

  def l2Norm(c: Column): Column = column(L2Norm(expr(c)))

  /** Int8-quantization relative reconstruction error (see
    * [[QuantErr]]); null for empty/all-zero vectors. */
  def quantErr(c: Column, levels: Int = 127): Column =
    column(QuantErr(expr(c), levels))

  /** Thresholded Jaccard over sorted distinct string or long arrays
    * (see [[JaccardGe]]): the value when ≥ t, else null. */
  def jaccardGe(a: Column, b: Column, t: Double): Column =
    column(JaccardGe(expr(a), expr(b), t))

  /** Thresholded directed containment |a∩b|/|a| over sorted distinct
    * long arrays (see [[ContainmentGe]]): the value when ≥ t, else
    * null. */
  def containmentGe(a: Column, b: Column, t: Double): Column =
    column(ContainmentGe(expr(a), expr(b), t))

  /** Sorted distinct n-gram xxhash64 fingerprints of a token array
    * (see [[NgramHashes]]). */
  def ngramHashes(toks: Column, n: Int): Column =
    column(NgramHashes(expr(toks), n))

  /** Generator (UDTF): one row per word n-gram of a text column,
    * streamed — no per-row n-gram array ever materializes (see
    * [[NgramGen]]). */
  def ngramsGen(text: Column, n: Int): Column =
    column(NgramGen(expr(text), n))

  /** IVF assignment: nearest centroid id by cosine (see
    * [[NearestCentroid]]); `cents` is array<struct<c_id,cv>>. */
  def nearestCentroid(v: Column, cents: Column): Column =
    column(NearestCentroid(expr(v), expr(cents)))

  /** Soft assignment: top-k nearest centroid ids by cosine, descending
    * (see [[NearestCentroids]]) — the SemDeDup / multi-probe primitive. */
  def nearestCentroids(v: Column, cents: Column, k: Int): Column =
    column(NearestCentroids(expr(v), expr(cents), k))

  /** True iff ANY element of a long-array column might be in the
    * bloom sketch (see [[BloomAnyLong]]) — the map-side candidate
    * filter of bloom-pruned decontamination. */
  def bloomAny(grams: Column, sketch: Array[Byte]): Column =
    column(BloomAnyLong(expr(grams), sketch))

  /** Packed sign-bit LSH bucket id (see [[HyperplaneBucket]]); `seed`
    * selects an independent hyperplane family per LSH table. */
  def hyperplaneBucket(c: Column, bits: Int, seed: Long = 0L): Column =
    column(HyperplaneBucket(expr(c), bits, seed))

  /** Deterministic Johnson-Lindenstrauss sign projection to k dims
    * (see [[RandProject]]). */
  def randProject(c: Column, k: Int, seed: Long = 0L): Column =
    column(RandProject(expr(c), k, seed))

  /** Arithmetic fixture payload bytes (see [[PayloadBytes]]). */
  def payloadBytes(id: Column, len: Column): Column =
    column(PayloadBytes(expr(id.cast("long")), expr(len.cast("int"))))
}
