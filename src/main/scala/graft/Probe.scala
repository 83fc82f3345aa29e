package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Measure.{Timing, num, obj, str, time}

/** Dev probe CLI on the [[Measure]] core.
  *
  * {{{
  * sbt "runMain graft.Probe /root/testdata/sf0.1 q5_local_supplier q_kpi_daily"
  * SPARK_GRAFT_EXPLAIN=1 sbt "runMain graft.Probe /root/testdata/sf0.1 q5_local_supplier"
  * sbt "runMain graft.Probe scaling [root] [out]"  # root/{sf0.001,sf0.01,sf0.1} -> scaling.json
  * sbt "runMain graft.Probe decade [base] [out]"   # base vs a minted 10x zone -> decade.json
  * sbt "runMain graft.Probe skew [base] [out]"     # base vs a skewed zone -> skew_probe.json
  * }}}
  *
  * Query mode prints every sample (2 warm-ups + 5 timed) per query so
  * variance is visible; with SPARK_GRAFT_EXPLAIN set it prints the
  * formatted plan first. The sweeps time each slate query as the median
  * of 3 after one warm-up, write one JSON record (by default into the
  * working directory) and print it.
  */
object Probe {

  /** One flagship per operator family, for the 100x-span curves: scan +
    * agg, star join, windowed sessionize, exact dedup, LSH near-dup
    * funnel, graph closure, bounded top-k ANN, native as-of merge, BPE,
    * repetition, KPI rollup, hourly grid, prefix-filtered similarity
    * join, BM25, trailing-window HLL fold, MERGE upsert, the two
    * round-count-dominated iterative flagships, the containment and
    * cluster-blocked semantic funnels (candidate volume should bend
    * sub-quadratic as nlist grows with the corpus), bloom-screened
    * decontamination and the global prefix cut (linear), the substring
    * dedup and cut (token-volume linear), DSIR and payload dedup, and
    * the BPE trainer (flat after its one corpus pass), the composed
    * cleaning lineage, ANN-served fusion and incremental SemDeDup. */
  val ScalingSlate: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q_kpi_daily",
    "q_events_hourly", "q_sessionize", "q_dedup_exact",
    "q_ngram_jaccard", "q_dup_clusters", "q_knn_batch_agg",
    "q_asof_native", "q_bpe_pairs", "q_rep_filter",
    "q_simjoin_prefix", "q_bm25", "q_sliding_distinct_hll",
    "q_merge_upsert", "q_triangle_count", "q_cluster_radius",
    "q_pagerank", "q_containment_join", "q_semdedup",
    "q_decontam_bloom", "q_token_budget", "q_dup_substrings",
    "q_dup_substrings_clean", "q_dsir_sample", "q_media_dedup",
    "q_bpe_train", "q_corpus_pipeline", "q_hybrid_rank_ann",
    "q_semdedup_incremental")

  /** Funnel/stream/KPI flagships whose 10x replication is exact (see
    * [[decadeZone]]). q_media_dedup's input scales 10x but its output
    * does not: payloads are a pure function of (doc_id % 17,
    * (doc_id DIV 17) % 3), so the copies land in the same 51 groups and
    * its ratio measures the hash-groupBy scan. q_ann_lsh's output stays
    * top-10, so its ratio measures the index build and probe. */
  val DecadeSlate: Seq[String] = Seq(
    "q_kpi_daily", "q_events_hourly", "q_sessionize",
    "q_dedup_exact", "q_simjoin_prefix", "q_minhash_dedup",
    "q_dup_substrings", "q_dup_substrings_clean",
    "q_bpe_pairs", "q_token_budget", "q_decontam_bloom",
    "q_dup_clusters", "q_dsir_sample", "q_media_dedup",
    "q_cosine_dedup_lsh", "q_semdedup", "q_ann_lsh")

  /** Dedup / join / window slate + one skew-invariant control. */
  val SkewSlate: Seq[String] = Seq(
    // user-partitioned window / sessionize family (hot-user stress)
    "q_sessionize", "q_session_window", "q_gaps_islands",
    "q_attribution", "q_share_of_day",
    // join family (hot-key behavior; lineitem-side joins double as
    // controls — their keys are untouched by the zone)
    "q_salted_join", "q_bucketed_join", "q_join_semi", "q_asof_native",
    // text dedup funnels over the 1000-copy duplicate clique
    "q_dedup_exact", "q_minhash_dedup", "q_simjoin_prefix",
    "q_ngram_jaccard", "q_dup_clusters", "q_dup_canonical", "q_simhash",
    // vector dedup funnels over the 30%-identical corpus
    "q_cosine_dedup_lsh", "q_semdedup",
    // control: day-grain rollup, skew-invariant by construction
    "q_kpi_daily")

  /** Default fixture root (TESTDATA.md): sf0.001, sf0.01 and sf0.1. */
  private val Fixtures = "/root/testdata"

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("scaling", rest @ _*) =>
      sweep(ScalingSlate, rest, Fixtures, "scaling.json") { (spark, root) =>
        scaling(spark, Seq("sf0.001", "sf0.01", "sf0.1").map(s => s -> s"$root/$s"), ScalingSlate)
      }
    case Seq("decade", rest @ _*) =>
      sweep(DecadeSlate, rest, s"$Fixtures/sf0.1", "decade.json")(decade(_, _, DecadeSlate))
    case Seq("skew", rest @ _*) =>
      sweep(SkewSlate, rest, s"$Fixtures/sf0.1", "skew_probe.json")(skew(_, _, SkewSlate))
    case Seq(sfDir, names @ _*) if names.nonEmpty =>
      Measure.requireKnown("probe", names)
      val spark = session()
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
          println(s"==== $name ====")
          fn(spark, sfDir).explain("formatted")
        }
        val t = time(name, warm = 2, n = 5)(Measure.forceEval(fn(spark, sfDir)))
        println(f"[probe] $name%-28s median=${num(t.median)}  " +
          s"samples=${(t.warm ++ t.samples).map(num(_)).mkString(" ")}")
      }
      spark.stop()
    case _ =>
      System.err.println("usage: Probe <sfDir> <query>... | Probe scaling|decade|skew [base] [out]")
      sys.exit(2)
  }

  private def session(): SparkSession = {
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Checks the slate, builds the record on `base` (first argument, or
    * the default), writes it to the record path and prints it. */
  private def sweep(slate: Seq[String], args: Seq[String], defaultBase: String, file: String)(
      record: (SparkSession, String) => String): Unit = {
    Measure.requireKnown("probe", slate)
    val spark = session()
    val line = record(spark, args.headOption.getOrElse(defaultBase))
    Measure.writeRecord(Measure.recordPath(args.lift(1), file), line)
    spark.stop()
    println(line)
  }

  private def timeQuery(spark: SparkSession, q: String, dir: String): Option[Double] = {
    val fn = SparkEntry.queries(q)
    time(s"$q on $dir", warm = 1, n = 3)(Measure.forceEval(fn(spark, dir))).median
  }

  private def ratio(from: Option[Double], to: Option[Double]): Option[Double] =
    for (a <- from; b <- to) yield b / math.max(a, 1e-9)

  /** Scaling curves over labelled fixture dirs (smallest first). With
    * fixed per-query overhead F and linear operator cost c·n, a 10x
    * data step bounds the ratio at (F + 10cn)/(F + cn) ≤ 10: sub-10
    * ratios mean at-worst-linear scaling still partly inside the
    * scheduling floor; a ratio well above 10 is a superlinear red flag
    * (quadratic pair blowup, skew concentration). */
  def scaling(spark: SparkSession, dirs: Seq[(String, String)], slate: Seq[String]): String = {
    val steal0 = Measure.stealSeconds()
    def curve(q: String, ts: Seq[(String, Option[Double])]): (String, String) = {
      System.err.println(f"[probe] $q%-28s " + ts.map { case (s, t) => s"$s=${num(t)}" }.mkString(" "))
      val steps = ts.map(_._2).sliding(2).zipWithIndex
        .map { case (Seq(a, b), i) => s"ratio_step${i + 1}" -> num(ratio(a, b)) }
      q -> obj(ts.map { case (s, t) => s -> num(t) } ++ steps)
    }
    val queries = slate.map(q => curve(q, dirs.map { case (s, dir) => s -> timeQuery(spark, q, dir) }))
    val drains = dirs.map { case (s, dir) => s -> drainCurves(spark, dir) }
    val streams = drains.head._2.map(_._1)
      .map(k => curve(k, drains.map { case (s, c) => s -> c.toMap.apply(k) }))
    s"""{"metric":"scaling","sf_span":"100x","queries":${obj(queries ++ streams)},""" +
      s""""steal_sec":${num(Measure.stealSeconds() - steal0)}}"""
  }

  /** One more decade: `base` against the 10x [[decadeZone]], with each
    * query's zone output rows so a ratio step is explainable by
    * measured cardinality. */
  def decade(spark: SparkSession, base: String, slate: Seq[String]): String = {
    val steal0 = Measure.stealSeconds()
    val zone = decadeZone(spark, base)
    System.err.println(s"[probe] sf1 zone built at $zone")
    try {
      val queries = slate.map { q =>
        val (t01, t1) = (timeQuery(spark, q, base), timeQuery(spark, q, zone))
        val rows = if (t1.isEmpty) "null" else SparkEntry.queries(q)(spark, zone).count().toString
        System.err.println(f"[probe] $q%-24s sf0.1=${num(t01)} sf1=${num(t1)} rows_sf1=$rows")
        q -> obj(Seq("sf0.1" -> num(t01), "sf1" -> num(t1), "ratio" -> num(ratio(t01, t1)),
          "rows_sf1" -> rows))
      }
      val streams = Seq("sf0.1" -> base, "sf1" -> zone).flatMap { case (label, dir) =>
        drainCurves(spark, dir).map { case (k, t) => s"$k/$label" -> num(t) }
      }
      s"""{"metric":"decade","base":${str(base)},"zone":""" +
        s""""10x sf0.1: copy-tagged token domains, offset ids, same 30-day window",""" +
        s""""queries":${obj(queries)},"streams":${obj(streams)},""" +
        s""""steal_sec":${num(Measure.stealSeconds() - steal0)}}"""
    } finally Artifacts.deleteRecursively(Paths.get(zone))
  }

  /** `base` against the same-cardinality [[skewZone]]: row counts are
    * held, so a skew/uniform ratio isolates the distribution effect
    * from data volume. */
  def skew(spark: SparkSession, base: String, slate: Seq[String]): String = {
    val steal0 = Measure.stealSeconds()
    val zone = skewZone(spark, base)
    System.err.println(s"[probe] skew zone built at $zone")
    try {
      val queries = slate.map { q =>
        val (u, s) = (timeQuery(spark, q, base), timeQuery(spark, q, zone))
        System.err.println(f"[probe] $q%-22s uniform=${num(u)} skew=${num(s)}")
        q -> obj(Seq("uniform" -> num(u), "skew" -> num(s), "ratio" -> num(ratio(u, s))))
      }
      s"""{"metric":"skew_probe","sf":${str(base)},"zone":""" +
        s"""{"events":"20pct rows on one hot user_id",""" +
        s""""documents":"20pct of docs share one text (1000-copy clique at sf0.1)",""" +
        s""""embeddings":"30pct identical vectors"},""" +
        s""""queries":${obj(queries)},"steal_sec":${num(Measure.stealSeconds() - steal0)}}"""
    } finally Artifacts.deleteRecursively(Paths.get(zone))
  }

  /** Per-drain cost of the two maintained streaming pipelines on `dir`:
    * one build drain over the whole zone (grows with the corpus), then
    * the median of 3 incremental drains of a fixed-size batch on fresh
    * keys — the O(new data) claims as curves. The near-dup incremental
    * drain still re-explodes the stored fingerprint index into postings
    * for its probe join, so expect a slowly growing curve there; the
    * upsert drain reloads one KPI state row per day, so expect it
    * near-flat (SCALE.md §streaming). Each timed build drain follows an
    * untimed one in throwaway dirs: timed cold, the first dir's build
    * also paid first-use codegen and JIT (a committed scaling.json had
    * 2.279 s at sf0.001 against 1.298 s at sf0.01), so the curve
    * understated growth. */
  private[graft] def drainCurves(spark: SparkSession, dir: String): Seq[(String, Option[Double])] = {
    import graft.operators.PipelineQueries
    def inTempDirs[A](n: Int)(f: Seq[String] => A): A = {
      val ps = Seq.fill(n)(Files.createTempDirectory("graft-drain"))
      try f(ps.map(_.toString)) finally ps.foreach(Artifacts.deleteRecursively)
    }
    /** `setup` lands the build zone in `n` fresh dirs and returns the
      * batch lander and the drain. */
    def curve(name: String, n: Int)(
        setup: Seq[String] => (Int => Unit, () => Unit)): Seq[(String, Option[Double])] = {
      inTempDirs(n)(ps => setup(ps)._2())
      inTempDirs(n) { ps =>
        val (batch, drain) = setup(ps)
        val build = time(s"${name}_build on $dir")(drain())
        val incr = (1 to 3).map { i => batch(i); time(s"${name}_incr on $dir")(drain()) }
        Seq(s"${name}_build" -> build.median,
          s"${name}_incr" -> Timing(Nil, incr.flatMap(_.samples), incr.exists(_.failed)).median)
      }
    }
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val nearDup = curve("q_stream_neardup", 4) { case Seq(in, out, idx, ck) =>
      def land(df: DataFrame): Unit =
        df.select(to_json(struct(col("doc_id"), col("text"))).as("value"))
          .coalesce(1).write.mode("append").text(in)
      (0 until 3).foreach(k => land(docs.where(pmod(col("doc_id"), lit(3)) === k)))
      (i => land(docs.orderBy(col("doc_id")).limit(32)
        .select((col("doc_id") + lit(maxId * i + 1)).as("doc_id"), col("text"))),
        () => PipelineQueries.nearDupDrain(spark, in, out, idx, ck))
    }
    // Batch i shifts by (span + 40)·i days, so the batches and the
    // build zone stay day-disjoint for any corpus span and each
    // incremental drain overwrites only its own fresh days.
    val spanDays = Tables.load(spark, dir, "events")
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts")))))
      .head().getInt(0)
    val upsert = curve("q_stream_upsert", 3) { case Seq(in, out, ck) =>
      PipelineQueries.writeWireZone(spark, dir, in, cutoffDate = Some(PipelineQueries.StreamCutoff))
      (i => PipelineQueries.writeWireZone(spark, dir, in,
        cutoffDate = None, files = 1, limit = 500,
        shiftDays = (spanDays + 40) * i, idPrefix = s"b$i-"),
        () => PipelineQueries.upsertDrain(spark, in, out, ck))
    }
    nearDup ++ upsert
  }

  /** Same-cardinality skew zone from `base` — row counts are held
    * (victims are REWRITTEN, not appended) but key distributions
    * degenerate:
    *  - events: 20% of rows remapped to ONE hot user_id (stresses every
    *    user-partitioned window/sessionize shape and any user-keyed
    *    join);
    *  - documents: ~20% of docs (1000 at sf0.1) share ONE text — a
    *    1000-copy mass duplicate (stresses the shingle/banding dedup
    *    funnels with a genuine quadratic pair clique);
    *  - embeddings: 30% of vectors identical (stresses the LSH /
    *    SemDeDup bucket funnels — the HotBucketCap path runs in anger).
    */
  private[graft] def skewZone(spark: org.apache.spark.sql.SparkSession,
                              base: String): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-skewzone")
    // pass-through tables: byte-identical copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(base, s"$t.parquet"),
        out.resolve(s"$t.parquet"))
    }
    // events: one hot user at 20% of rows (deterministic victim set)
    val ev = Tables.load(spark, base, "events")
    val hot = ev.agg(min(col("user_id"))).head().getLong(0)
    ev.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(5)) === 0, lit(hot))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(out.resolve("events.parquet").toString)
    // documents: ~20% of docs share doc0's text (n_chars rewritten to
    // stay consistent with the text)
    val docs = Tables.load(spark, base, "documents")
    val d0 = docs.orderBy(col("doc_id")).limit(1)
      .select(col("text").as("dup_text"), col("n_chars").as("dup_chars"))
    docs.join(broadcast(d0))
      .withColumn("is_dup", pmod(xxhash64(col("doc_id")), lit(5)) === 0)
      .select(col("doc_id"),
        when(col("is_dup"), col("dup_text")).otherwise(col("text")).as("text"),
        col("lang"), col("source"),
        when(col("is_dup"), col("dup_chars")).otherwise(col("n_chars")).as("n_chars"))
      .write.mode("overwrite").parquet(out.resolve("documents.parquet").toString)
    // embeddings: 30% of vectors identical (keep victims' labels so the
    // label-blocked exact twin sees dense identical blocks)
    val emb = Tables.load(spark, base, "embeddings")
    val v0 = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("dup_v"))
    emb.join(broadcast(v0))
      .select(col("vec_id"),
        when(pmod(xxhash64(col("vec_id")), lit(10)) < 3, col("dup_v"))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(out.resolve("embeddings.parquet").toString)
    out.toString
  }

  private val Copies = 10
  private val IdStride = 10000000L

  /** An sf1-equivalent zone: 10 deterministic copies of `base`.
    * - `documents`: copy k offsets doc_id by k·10⁷ and suffixes every
    *   token with `_k` — each copy keeps the base corpus's exact
    *   length/duplication/window structure while its token domain stays
    *   DISJOINT from every other copy's, so dedup outputs (exact groups,
    *   J ≥ 1/2 pairs, repeated-window spans) scale exactly 10× and no
    *   spurious cross-copy similarity is manufactured: "ten shards of
    *   similar-looking traffic", not "the same corpus ten times" (which
    *   the exact-dup collapse would flatten back to 1×).
    * - `events`: copy k offsets event_id/user_id by k·10⁷, keeps
    *   timestamps — same 30-day window at 10× daily volume and 10× the
    *   user population (per-user event density unchanged).
    * - `embeddings`: BLOCK-DIAGONAL copies: copy k offsets vec_id by
    *   k·10⁷, offsets the label by k·1000, and places the vector in its
    *   own orthogonal d-dim block of a (10·d)-dim space. Zero-padding
    *   changes neither dot products nor norms, so WITHIN-copy cosines
    *   are bit-identical to the base corpus and CROSS-copy cosines are
    *   exactly 0 (disjoint supports) — no manufactured pairs, funnel
    *   outputs scale exactly 10×, and the label offset keeps the
    *   label-blocked exact twin linear (10 same-size blocks). Random
    *   resynthesis would not: random unit vectors put ~0.8% of all
    *   pairs over the 0.3 cut.
    */
  private[graft] def decadeZone(spark: org.apache.spark.sql.SparkSession,
                                base: String): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-sf1zone")
    val docs = Tables.load(spark, base, "documents")
    (0 until Copies).map { k =>
      if (k == 0) docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      else docs.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(out.resolve("documents.parquet").toString)
    val ev = Tables.load(spark, base, "events")
    (0 until Copies).map { k =>
      ev.select(
        (col("event_id") + lit(k * IdStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(out.resolve("events.parquet").toString)
    val embT = Tables.load(spark, base, "embeddings")
    val dim = embT.select(size(col("embedding"))).head().getInt(0)
    (0 until Copies).map { k =>
      embT.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        concat(
          expr(s"array_repeat(CAST(0.0 AS FLOAT), ${k * dim})"),
          col("embedding"),
          expr(s"array_repeat(CAST(0.0 AS FLOAT), ${(Copies - 1 - k) * dim})"))
          .as("embedding"),
        (col("label") + lit(k * 1000)).as("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(out.resolve("embeddings.parquet").toString)
    out.toString
  }
}
