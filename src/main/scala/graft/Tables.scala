package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Fixture-table loader (TESTDATA.md): one parquet file per table under
  * an sf dir. Central so every query resolves tables the same way and a
  * future move to a real catalog/bucketed layout is one change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet file schemas go through [[Artifacts.memo]]: without an
    * explicit schema every `spark.read.parquet` runs a footer-inference
    * JOB (~30 ms), one per table per query invocation. A production
    * engine resolves schemas from the catalog once, not from file
    * footers per query; the memo is that catalog stand-in, and a
    * rewritten table gets its new schema. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.install(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val schema = Artifacts.memo("schema", spark, sfDir, Seq(name))(spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // Normalize `events.ts` to TimestampType regardless of how the
    // fixture generator encoded it — BIGINT nanos (older fixtures,
    // read via legacy.parquet.nanosAsLong) or native TIMESTAMP_MICROS
    // (current fixtures, surfacing as TIMESTAMP_NTZ). Downstream query
    // code sees one type either way; with the session pinned to UTC the
    // NTZ→TZ cast is value-identity.
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", expr("cast(ts as timestamp)"))
        case _ => df
      }
    } else df
  }

  /** Register every fixture table as a temp view so users can drive
    * the engine with raw `spark.sql(...)` text — the catalog-style
    * entry point (graft functions are already SQL-registered via
    * [[graft.functions.GraftFunctions.install]] beside Spark's
    * built-ins, so e.g.
    * `SELECT hll_sketch_estimate(hll_union_agg(sk)) FROM sketches`
    * parses too).
    * Views resolve through [[load]], so schema memoization and the
    * events-ts normalization apply identically to SQL users. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }

  /** Memoized row counts: knob derivation (LSH bits, IVF nlist) needs
    * |table| once per snapshot, not one count job per query. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    Artifacts.memo("rowCount", spark, sfDir, Seq(name))(load(spark, sfDir, name).count())

  /** Run `body` with spark.sql.shuffle.partitions = n, restoring the
    * session default afterwards — the size-to-data knob for query
    * regions whose shuffles are orders of magnitude below the session
    * default (streaming gate state stores, iterative label loops).
    * Takes effect at ACTION time, so it must wrap the actions, not
    * just the plan construction. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with the given session confs, restoring the previous
    * values (or unsetting) afterwards. Like [[withShufflePartitions]],
    * takes effect at ACTION time — wrap the actions. */
  def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Initializes Spark's `CollationAwareUTF8String` on a daemon thread,
    * once per JVM. Spark 4.1's `lower()`/`upper()` reach that class,
    * and its static initializer runs ICU `toTitleCase` over all
    * 1,114,112 code points to build a title-case table that `lower()`
    * never reads: ~1.5 s of CPU, paid by the first task that lowercases
    * while the stage's other tasks wait on the class-init lock. Every
    * case-insensitive predicate does (`Kpis.isPageview` in the KPI
    * fold among them), so a fresh JVM's first KPI scan paid it on its
    * critical path. [[session]] starts this first, so the table is
    * built on an idle core during the 6–8 s session build. A job that
    * never lowercases would pay that CPU for nothing, so
    * `FreshnessMain` builds no session.
    * The initializer touches only JDK and ICU classes, so it cannot
    * deadlock against the builder's class loading; results are
    * unchanged because the same Spark code runs. The static call (not
    * a class name string) makes a Spark upgrade that moves the class
    * fail the build. */
  private[graft] lazy val caseTableWarmup: Thread = {
    val t = new Thread(() => {
      org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
        .toLowerCase(org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8)
      ()
    }, "graft-case-table-warmup")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Builds the standard SparkSession used by mains. local[32] mirrors a
    * 32-slot executor; shuffle partitions match cores (not default 200)
    * so small-SF runs don't pay 200 empty-task overheads while the same
    * code scales by config on a real cluster.
    */
  def session(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    caseTableWarmup
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // Respect the AQE target partition size instead of maximizing
      // parallelism when coalescing (the Spark-docs-recommended
      // setting): a shuffle whose whole output fits one target-size
      // partition becomes ONE reduce task, not cores-many near-empty
      // ones — at 100 TB the target size governs either way, but
      // mis-sized small stages (dim aggregations, probe lists) stop
      // paying a full-width task-scheduling round.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // 128 distinct keys per task (the Spark default, sized for
      // unbounded collect_list buffers) — which charged a full
      // 600k-row sort to the 252-group monthly qsketch rollup
      // (measured 0.82 s → 0.50 s at sf0.1). The engine's object
      // aggregates are bounded-buffer sketches (qsketch ≤ (sub+1)·64
      // entries, HLL fixed registers, top-k ≤ k rows), so 4096
      // in-flight buffers is a few MB per task at any scale; the knob
      // is per-task keys, not global cardinality, so it is
      // cluster-safe. Env-overridable like the AQE switch.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "4096"))
      // Back to the Spark default (r15, verdict item 7): a committed
      // 12-query A/B (every shuffle-join query in the surface, both
      // settings in one session) showed preferSortMergeJoin=false
      // changes NO plan here — every join is either broadcast or stays
      // SMJ because SHJ's size conditions never hold — so the r14
      // setting was plan-neutral config drift and its claimed wins were
      // window noise. The default also avoids a latent scale hazard:
      // ShuffledHashJoin's build-side HashedRelation does not spill
      // (only pre-shuffle size ESTIMATES gate it), so post-filter
      // misestimation or residual skew can OOM an executor. Deployments
      // with trusted stats can still opt in via SPARK_GRAFT_PREFER_SMJ=false.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // modern parquet timestamps: the INT96 default is a deprecated
      // type with NO column statistics and no filter pushdown — any
      // derived table written with it silently loses zone-map pruning
      // (discovered via SortedLayout; see SortedLayoutSpec)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // task-side output commit (v2): the v1 default renames every
      // task's partition dirs sequentially on the driver at job
      // commit — O(partitions) driver wall-clock on every partitioned
      // write (7s for a 720-bucket write locally; hours at 100 TB)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Every file: sink and checkpoint writes through LocalFs. Without
    // libhadoop, stock RawLocalFileSystem forks one `chmod` per file
    // and directory it creates and FileContext.rename forks `readlink`
    // twice per rename: one 50k-event backfill pass (JFR jdk.ProcessStart)
    // spawned 822 processes in ingest (542 chmod from the JSON sink and
    // its log, 48 chmod from the checkpoint, 232 readlink from the log
    // and checkpoint commits) and 35 chmod in the KPI write; none now.
    // Same .crc sidecars, permissions and atomic renames; s3a: untouched.
    graft.sources.LocalFs(spark)
    graft.functions.GraftFunctions.install(spark)
    spark
  }
}
