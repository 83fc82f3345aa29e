package perfbench

/** The per-layer metrics of a traced run: self times of the spans at
  * each layer call, counts the workloads kept, and task metrics the
  * [[LayerListener]] summed per submitting span. Every workload emits
  * every name; a layer a workload does not reach reads 0. */
object Layers {
  private val phaseSpans = Ingest.Phases.map(p => s"streaming.$p")
  private def opSpan(n: String) = QueryMix.Modules.exists(m => n.startsWith(s"operators.$m."))

  def collect(ctx: Ctx, o: Outcome, gcSeconds: Double, gcCount: Long): Map[String, Double] = {
    val t = ctx.tracer
    val l = ctx.listener.get
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def self(n: String) = t.selfSeconds(n)
    def count(n: String) = o.layer.getOrElse(n, 0.0)

    m("Tables.session_s") = self("Tables.session")
    m("gen.land_s") = self("gen.land")
    Seq("gen.land_files", "gen.land_bytes", "gen.late_max_s").foreach(n => m(n) = count(n))

    val streaming = l.sum(t)(n => n.startsWith("streaming."))
    m("streaming.ingest_s") = self("streaming.ingest")
    m("streaming.addBatch_s") = self("streaming.addBatch")
    Seq("streaming.batches", "streaming.rows_in", "streaming.files_out", "streaming.bytes_out",
      "streaming.partition_dirs").foreach(n => m(n) = count(n))
    m("streaming.shuffle_write_bytes") = streaming.shuffleWrite.toDouble
    m("streaming.start_s") = self("streaming.start")
    phaseSpans.filterNot(_ == "streaming.addBatch").foreach(n => m(s"${n}_s") = self(n))
    m("streaming.empty_batches") = count("streaming.empty_batches")

    val kpi = l.sum(t)(_ == "batch.kpi")
    val batch = l.sum(t)(_.startsWith("batch."))
    // The KPI job's own listing, with no extra call: the time from the
    // call into DailyKpisMain.run to its first Spark job. DailyKpis.readRaw
    // builds its file index there, from the raw zone's file-sink log, and
    // the write is planned. batch.kpi_s is the rest of the job.
    val firstJob = t.all.filter(_.name == Tracer.JobSpan).groupBy(_.parent).map { case (p, js) => p -> js.map(_.start).min }
    val list = t.all.filter(_.name == "batch.kpi")
      .map(s => (firstJob.getOrElse(s.id, s.end).min(s.end) - s.start).max(0.0)).sum
    m("batch.list_s") = list
    m("batch.kpi_s") = (self("batch.kpi") - list).max(0.0)
    m("batch.kpi_shuffle_write_bytes") = kpi.shuffleWrite.toDouble
    m("batch.kpi_tasks") = kpi.tasks.toDouble
    val computed = count("batch.days_computed_events")
    m("batch.records_read_ratio") = if (computed > 0) kpi.recordsRead / computed else 0.0

    m("quality.fresh_s") = self("quality.fresh")
    m("quality.stale_count") = count("quality.stale_count")

    for (mod <- QueryMix.Modules; step <- Seq("build", "plan", "exec"))
      m(s"operators.$mod.${step}_s") = self(s"operators.$mod.$step")
    val ops = l.sum(t)(opSpan)
    Seq("analysis", "optimization", "planning").foreach(p => m(s"operators.${p}_s") = count(s"operators.${p}_s"))
    m("operators.jobs") = ops.jobs.toDouble
    m("operators.stages") = ops.stages.toDouble
    m("operators.tasks") = ops.tasks.toDouble
    m("operators.floor_s") = count("operators.floor_s")
    m("operators.shuffle_write_bytes") = ops.shuffleWrite.toDouble
    m("operators.spill_bytes") = ops.spill.toDouble
    m("operators.task_skew") = if (ops.stageSkew.isEmpty) 0.0 else ops.stageSkew.sum / ops.stageSkew.size
    m("operators.cold_pass_s") = self("operators.cold_pass")

    for ((layer, c) <- Seq("streaming" -> streaming, "batch" -> batch, "operators" -> ops)) {
      m(s"$layer.executor_run_s") = c.runMs / 1e3
      m(s"$layer.executor_cpu_s") = c.cpuNs / 1e9
      m(s"$layer.gc_s") = c.gcMs / 1e3
    }
    m("jvm.gc_s") = gcSeconds
    m("jvm.gc_count") = gcCount.toDouble
    m("jvm.heap_peak_mb") = Main.heapPeakMb

    m("trace.spans") = t.all.size.toDouble
    m("trace.latency_p50_s") = Main.median(o.latencies.toSeq)
    m("trace.throughput_per_s") = o.throughput
    m.toMap
  }
}
