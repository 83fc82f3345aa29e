package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `trickle`: an open loop. A landing thread atomic-renames
  * pre-generated small JSONL files into the landing directory on a
  * fixed schedule of [[FilesPerSecond]], whatever the pipeline does.
  * The driver thread runs back-to-back rounds: AvailableNow ingest
  * resumed from the checkpoint, `DailyKpisMain --date` for each day the
  * round touched, `Freshness`, then a read-back of the KPI table. A
  * file's latency runs from its scheduled landing time to the end of
  * the first read-back that shows a correct row for each of its days.
  * The events span 12:00 to 12:00 the next day, so the run crosses a
  * midnight halfway through.
  *
  * Fixed per-round costs dominate here: stream start, planning, WAL and
  * commit, listing, and the date-partition prune of the KPI job. */
object Trickle {
  /** Landing rate, frozen: about half of the rate at which the parent
    * commit's rounds stopped keeping up (see perfbench/README.md). */
  val FilesPerSecond = 14.0
  val EventsPerFile = 200
  val MinFiles = 210
  val Start = "2025-09-01 12:00:00"

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val t = ctx.tracer
    val (nFiles, rate) = if (ctx.opts.smoke) (20, 20.0)
      else (math.max(MinFiles, math.round(FilesPerSecond * ctx.opts.seconds).toInt), FilesPerSecond)
    val staging = ctx.dir("staging")
    val landing = ctx.dir("landing")
    val raw = ctx.dir("raw")
    val checkpoint = ctx.dir("checkpoint")
    val kpi = s"${ctx.opts.work}/kpi"
    val files = t.span("gen.land") {
      val events = Kpi.generate(ctx.spark, nFiles.toLong * EventsPerFile, s"seed-${ctx.opts.seed}", Start, 1)
      events.grouped(EventsPerFile).toIndexedSeq.zipWithIndex.map { case (es, i) =>
        val name = f"events-$i%04d.jsonl"
        o.add("gen.land_bytes", Kpi.writeJsonl(Paths.get(staging, name), es).toDouble)
        name -> es
      }
    }
    o.add("gen.land_files", files.size.toDouble)
    val fileIndex = files.map(_._1).zipWithIndex.toMap
    val fileDays = files.map(_._2.map(_.day).toSet)

    // One round on separate directories warms the JIT and Spark's code
    // paths, so the timed rounds measure the steady round cost.
    t.muted("setup.warmup") {
      val w = ctx.dir("warmup/landing")
      Kpi.writeJsonl(Paths.get(w, "warmup.jsonl"), files.head._2)
      val wraw = ctx.dir("warmup/raw")
      Ingest.run(ctx, new Outcome, w, wraw, ctx.dir("warmup/checkpoint"), None)
      graft.jobs.DailyKpisMain.run(ctx.spark, wraw, s"${ctx.opts.work}/warmup/kpi", Map("date" -> fileDays.head.head))
      graft.quality.Freshness.isFresh(ctx.spark, wraw, fileDays.head.head)
      Kpi.readBack(ctx.spark, s"${ctx.opts.work}/warmup/kpi")
    }

    o.setupSeconds = ctx.sinceStart
    ctx.beginTimed(o)
    val t0 = o.timedStart
    def due(i: Int): Double = t0 + i / rate
    @volatile var landed = 0
    @volatile var lateMax = 0.0
    val lander = new Thread(() => {
      for (i <- files.indices) {
        val wait = due(i) - t.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        Files.move(Paths.get(staging, files(i)._1), Paths.get(landing, files(i)._1),
          StandardCopyOption.ATOMIC_MOVE)
        lateMax = math.max(lateMax, t.now() - due(i))
        landed = i + 1
      }
    }, "perfbench-lander")
    lander.setDaemon(true)
    lander.start()

    val fold = new KpiFold
    var ingested = Set.empty[Int]
    val resolved = mutable.HashMap.empty[Int, Double]
    var round = 0
    // A pipeline that stops taking files must not hang the benchmark.
    val deadline = due(files.size) + 120
    try {
      while (ingested.size < files.size && t.now() < deadline) {
        while (landed <= ingested.size && landed < files.size) Thread.sleep(2)
        o.attempted += 1
        try {
          val (actual, fresh) = t.span("trickle.round") {
            Ingest.run(ctx, o, landing, raw, checkpoint, None)
            val now = ingestedFiles(checkpoint).flatMap(fileIndex.get)
            val fresh = now -- ingested
            ingested = now
            val days = fresh.toSeq.flatMap(fileDays).distinct.sorted
            days.foreach { d =>
              t.span("batch.kpi") { graft.jobs.DailyKpisMain.run(ctx.spark, raw, kpi, Map("date" -> d)) }
            }
            t.span("quality.fresh") {
              days.foreach(d => if (!graft.quality.Freshness.isFresh(ctx.spark, raw, d)) o.add("quality.stale_count", 1))
            }
            (t.span("check.readback") { Kpi.readBack(ctx.spark, kpi) }, fresh)
          }
          val end = t.now()
          Main.log(ctx, f"round $round: ${fresh.size} files")
          fresh.toSeq.sorted.foreach(i => files(i)._2.foreach(fold.add))
          o.add("batch.days_computed_events",
            fresh.flatMap(fileDays).map(d => fold.rows(d).totalEvents.toDouble).sum)
          val expected = if (ctx.opts.corruptExpected) Kpi.corrupt(fold.rows) else fold.rows
          val (missing, wrong) = Kpi.diff(expected, actual, ingested.flatMap(fileDays))
          val bad = (missing ++ wrong).toSet
          for (i <- ingested if !resolved.contains(i) && fileDays(i).forall(d => !bad(d)))
            resolved(i) = end - due(i)
          if (bad.nonEmpty)
            o.fail(s"round $round: KPI rows missing ${missing.mkString(",")} wrong ${wrong.mkString(",")}",
              wrongValue = wrong.nonEmpty)
        } catch {
          case e: Exception => o.fail(s"round $round: ${e.getClass.getSimpleName}: ${e.getMessage}", wrongValue = false)
        }
        round += 1
      }
    } finally lander.join()
    ctx.endTimed(o)
    if (t.enabled) Ingest.rawZoneCounts(o, raw)
    o.latencies ++= resolved.values
    val elapsed = o.timedEnd - o.timedStart
    o.throughput = ingested.size.toDouble * EventsPerFile / elapsed
    o.add("gen.late_max_s", lateMax)
    o.named("land_to_kpi_p50_s") = (Main.median(o.latencies.toSeq), "s")
    o.named("land_to_kpi_p90_s") = (Main.percentile(o.latencies.toSeq, 0.9), "s")
    o.provenance("trickle_files_per_s") = rate
    o.provenance("trickle_files") = files.size
    o.provenance("trickle_events_per_file") = EventsPerFile
    o.provenance("trickle_rounds") = round
    o.provenance("trickle_unresolved_files") = files.size - resolved.size
    o.provenance("landing_late_max_s") = lateMax
    o
  }

  /** Landing files the checkpoint's file-source log has committed to a
    * batch: the exact set the ingest rounds have read. */
  def ingestedFiles(checkpoint: String): Set[String] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val Path = "\"path\":\"([^\"]+)\"".r
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Path.findAllMatchIn(Files.readString(p)).map(_.group(1).split('/').last))
        .toSet
      finally s.close()
    }
  }
}
