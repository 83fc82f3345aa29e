package perfbench

import java.nio.file.Paths

/** `backfill`: the reference's 7-day backfill shape (FF_DAYS=7 from
  * 2025-09-01). Each pass lands the generated events as JSONL files,
  * ingests them with AvailableNow in `maxFilesPerTrigger` micro-batches,
  * runs the all-days KPI job and the freshness check. A pass is one
  * operation; its time is `backfill_s`. Passes repeat, each into fresh
  * directories, until `--seconds` have been spent; the first pass lands its
  * input during set-up, later ones between passes.
  *
  * Bulk ingest (addBatch) and the all-days KPI fold do almost all the
  * work here; fixed per-batch costs are small. */
object Backfill {
  final case class Size(events: Long, filesPerDay: Int, maxFilesPerTrigger: Int)
  val Full = Size(events = 50000, filesPerDay = 8, maxFilesPerTrigger = 8)
  val Smoke = Size(events = 7000, filesPerDay = 2, maxFilesPerTrigger = 2)
  val Days = 7
  val Start = "2025-09-01"

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val t = ctx.tracer
    val size = if (ctx.opts.smoke) Smoke else Full
    val nFiles = Days * size.filesPerDay
    val g0 = System.nanoTime()
    val events = t.span("gen.land") { Kpi.generate(ctx.spark, size.events, s"seed-${ctx.opts.seed}", Start, Days) }
    val genSeconds = (System.nanoTime() - g0) / 1e9
    val expected = {
      val e = Kpi.expected(events)
      if (ctx.opts.corruptExpected) Kpi.corrupt(e) else e
    }
    val days = expected.keySet.toSeq.sorted
    // Events are in time order, so each file holds one contiguous slice of a day.
    val slices = events.grouped(math.ceil(events.length.toDouble / nFiles).toInt).toSeq

    def land(pass: Int): String = {
      val dir = ctx.dir(s"pass$pass/landing")
      t.span("gen.land") {
        slices.zipWithIndex.foreach { case (s, i) =>
          o.add("gen.land_bytes", Kpi.writeJsonl(Paths.get(dir, f"events-$i%03d.jsonl"), s).toDouble)
        }
      }
      o.add("gen.land_files", slices.size.toDouble)
      dir
    }

    val passSeconds, ingestSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var landing = land(0)
    o.setupSeconds = ctx.sinceStart
    ctx.beginTimed(o)
    while (pass == 0 || t.now() - o.timedStart < ctx.opts.seconds) {
      if (pass > 0) landing = land(pass)
      val raw = ctx.dir(s"pass$pass/raw")
      val kpi = s"${ctx.opts.work}/pass$pass/kpi"
      o.attempted += 1
      try {
        val p0 = System.nanoTime()
        t.span("backfill.pass") {
          ingestSeconds += Ingest.run(ctx, o, landing, raw, ctx.dir(s"pass$pass/checkpoint"),
            Some(size.maxFilesPerTrigger))
          t.span("batch.kpi") {
            graft.jobs.DailyKpisMain.run(ctx.spark, raw, kpi, Map("all-days" -> "true"))
          }
          t.span("quality.fresh") {
            days.foreach(d => if (!graft.quality.Freshness.isFresh(ctx.spark, raw, d)) o.add("quality.stale_count", 1))
          }
        }
        passSeconds += (System.nanoTime() - p0) / 1e9
        Main.log(ctx, f"pass $pass: ${passSeconds.last}%.2f s, ingest ${ingestSeconds.last}%.2f s")
        o.add("batch.days_computed_events", events.length.toDouble)
        if (t.enabled) Ingest.rawZoneCounts(o, raw)
        val (missing, wrong) = Kpi.diff(expected, Kpi.readBack(ctx.spark, kpi), days)
        if (missing.nonEmpty || wrong.nonEmpty)
          o.fail(s"pass $pass: KPI rows missing ${missing.mkString(",")} wrong ${wrong.mkString(",")}",
            wrongValue = wrong.nonEmpty)
      } catch {
        case e: Exception => o.fail(s"pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}", wrongValue = false)
      }
      pass += 1
    }
    ctx.endTimed(o)
    o.latencies ++= passSeconds
    val ingest = Main.median(ingestSeconds.toSeq)
    o.throughput = events.length / ingest
    o.named("backfill_s") = (Main.median(passSeconds.toSeq), "s")
    o.named("ingest_events_per_s") = (o.throughput, "1/s")
    o.provenance("events_per_pass") = events.length
    o.provenance("files_per_pass") = slices.size
    o.provenance("max_files_per_trigger") = size.maxFilesPerTrigger
    o.provenance("generate_s") = genSeconds
    o
  }
}
