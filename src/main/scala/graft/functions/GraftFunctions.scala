package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

/** Registration of graft's native Catalyst expressions as SQL
  * functions, usable two ways:
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` (or
  *    `.withExtensions`) — the idiomatic cluster path;
  *  - `GraftFunctions.install(spark)` — imperative, idempotent; called
  *    by the query entry points so any session works.
  *
  * Int parameters (numHashes/bands) must be literals — they size
  * per-row loops, not data.
  */
object GraftFunctions {

  private def intArg(fn: String, e: Expression): Int = e match {
    case IntegerLiteral(v) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }

  private def doubleArg(fn: String, e: Expression): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    // SQL fractional literals (`0.5`) parse as DecimalType literals
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case IntegerLiteral(v) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal double argument, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (args => SimHash64(args.head)),
    "minhash_sig" -> (args =>
      MinHashSig(args.head, intArg("minhash_sig", args(1)))),
    "minhash_band_hashes" -> (args => MinHashBandHashes(args.head,
      intArg("minhash_band_hashes", args(1)),
      intArg("minhash_band_hashes", args(2)))),
    "freq_sketch" -> (args =>
      FreqSketchAgg(args.head, intArg("freq_sketch", args(1)))),
    "cosine_sim" -> (args => CosineSim(args.head, args(1))),
    "l2_norm" -> (args => L2Norm(args.head)),
    "quant_err" -> (args =>
      QuantErr(args.head,
        if (args.length > 1) intArg("quant_err", args(1)) else 127)),
    "round_bin" -> (args => RoundBin(args.head, args(1))),
    "hyperplane_bucket" -> (args =>
      HyperplaneBucket(args.head, intArg("hyperplane_bucket", args(1)),
        if (args.length > 2) intArg("hyperplane_bucket", args(2)).toLong else 0L)),
    "nearest_centroid" -> (args => NearestCentroid(args.head, args(1))),
    "nearest_centroids" -> (args => NearestCentroids(args.head, args(1),
      intArg("nearest_centroids", args(2)))),
    "jaccard_ge" -> (args =>
      JaccardGe(args.head, args(1), doubleArg("jaccard_ge", args(2)))),
    "containment_ge" -> (args =>
      ContainmentGe(args.head, args(1), doubleArg("containment_ge", args(2)))),
    "ngram_hashes" -> (args =>
      NgramHashes(args.head, intArg("ngram_hashes", args(1)))),
    "minhash_union" -> (args =>
      MinHashUnionAgg(args.head, intArg("minhash_union", args(1)))),
    "top_k" -> (args =>
      TopKAgg(args.head, args(1), intArg("top_k", args(2)))),
    "qsketch" -> (args =>
      QSketchAgg(args.head,
        if (args.length > 1) intArg("qsketch", args(1)) else 5)),
    "qsketch_union" -> (args =>
      QSketchUnionAgg(args.head,
        if (args.length > 1) intArg("qsketch_union", args(1)) else 5)),
    "qsketch_quantile" -> (args =>
      QSketchQuantile(args.head, doubleArg("qsketch_quantile", args(1)))),
    "cms_sketch" -> (args =>
      CmsAgg(args.head,
        if (args.length > 1) intArg("cms_sketch", args(1)) else 4,
        if (args.length > 2) intArg("cms_sketch", args(2)) else 2048)),
    "cms_union" -> (args =>
      CmsUnionAgg(args.head,
        if (args.length > 1) intArg("cms_union", args(1)) else 4,
        if (args.length > 2) intArg("cms_union", args(2)) else 2048)),
    "cms_estimate" -> (args => CmsEstimate(args.head, args(1))),
    "vec_moments" -> (args => VecMomentsAgg(args.head)),
    "ngrams_gen" -> (args => NgramGen(args.head, intArg("ngrams_gen", args(1)))),
    "ngram_hash_pos" -> (args =>
      NgramHashPos(args.head, intArg("ngram_hash_pos", args(1)))),
    "rand_project" -> (args =>
      RandProject(args.head, intArg("rand_project", args(1)),
        if (args.length > 2) intArg("rand_project", args(2)).toLong else 0L)),
    "payload_bytes" -> (args => PayloadBytes(args.head, args(1))),
    "interleave_bits" -> (args => InterleaveBits(args.head, args(1))),
  )

  /** Idempotent per-session registration. No name in [[all]] is a
    * Spark built-in (SqlInterfaceSpec), so this and [[inject]] give
    * every name the same meaning. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // sessions built without spark.sql.extensions (tests, notebooks)
    // still get the quantizer-collapse rule; duplicate registration on
    // extension-built sessions is harmless — the rewrite is idempotent
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RoundBinSimplify))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RoundBinSimplify
    // ... and the as-of merge-join planner strategy
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }

  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Sketches", name), builder))
    }
}
