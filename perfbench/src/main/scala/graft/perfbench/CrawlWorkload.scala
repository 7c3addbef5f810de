package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShims
import org.apache.spark.sql.SparkSession

/** crawl_wave and crawl_tail: set up, warm up, measure, check, and (traced)
  * replay the measured rounds layer by layer.
  */
object CrawlWorkload {
  val SetupReps = 3

  def run(spark: SparkSession, args: Args, sessionS: Double, tracer: Tracer): Outcome = {
    val shape =
      if (args.workload == "crawl_wave") CrawlShapes.wave(args.seed, args.toy)
      else CrawlShapes.tail(args.seed, args.toy)
    val bench = new CrawlBench(spark, shape, args.work)
    val preps = (0 until SetupReps).map(bench.prepareStore)
    val warmS = bench.warmUp()
    val setupS = sessionS + Stats.median(preps) + warmS

    // measured: whole segments until the window is used
    val segs = mutable.ArrayBuffer.empty[Segment]
    val mem = new MemProbe
    mem.start()
    val m0 = System.nanoTime()
    do segs += bench.segment()
    while ((System.nanoTime() - m0) / 1e9 < args.seconds)
    val measureS = (System.nanoTime() - m0) / 1e9
    val peakMb = mem.stopMb()

    val c0 = System.nanoTime()
    val failures = mutable.ArrayBuffer.empty[String]
    segs.foreach(s => failures ++= bench.check(s))
    val facts = bench.goldenFacts(segs.head)
    Main.goldenFor(args).foreach(g => failures ++= Golden.check(g, facts))

    // (fetched + discovered, wall ms) per measured round
    val rounds = segs.toSeq.flatMap(s => s.rounds.map { case (k, a, e) =>
      (s.roundWork.getOrElse(k, 0L).toDouble, (e - a).toDouble) })
    val walls = rounds.map(_._2)
    val throughput = rounds.map(_._1).sum / (segs.map(_.wallMs).sum / 1000.0)
    val peak = rounds.map(_._1).max
    val heavy = rounds.filter(_._1 * 10 >= peak)
    val heavyThroughput = heavy.map(_._1).sum / (heavy.map(_._2).sum / 1000.0)
    val p50 = Stats.median(walls)
    val c = bench.counts(segs.head)

    val checkS = (System.nanoTime() - c0) / 1e9
    val t0 = System.nanoTime()
    val (layer, extraFailures) =
      if (!args.trace) (Map.empty[String, Double], Seq.empty[String])
      else traced(spark, bench, tracer, args, Stats.median(segs.map(_.wallMs).toSeq))
    failures ++= extraFailures
    val traceS = (System.nanoTime() - t0) / 1e9
    segs.foreach(bench.dispose)

    val attempted = (rounds.size + segs.size).toLong
    val failed = failures.size.toLong
    val metrics =
      if (args.trace) Metrics.complete(Metrics.PerLayer, layer)
      else Metrics.complete(Metrics.EndToEnd, Map(
        "setup_s" -> setupS, "throughput_per_s" -> throughput,
        "step_p50_ms" -> p50, "peak_mem_mb" -> peakMb))
    val report = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("setup.session_s", sessionS, "s"),
      Metric("setup.store_prep_median_s", Stats.median(preps), "s"),
      Metric("setup.warmup_s", warmS, "s"),
      Metric("crawl_urls_per_s", throughput, "URLs/s"),
      Metric("heavy_round_urls_per_s", heavyThroughput, "URLs/s"),
      Metric("round_wall_p50_ms", p50, "ms"),
      Metric("rounds_measured", walls.size, "count"),
      Metric("heavy_rounds", heavy.size, "count"),
      Metric("segments", segs.size, "count"),
      Metric("phase.measure_s", measureS, "s"),
      Metric("phase.check_s", checkS, "s"),
      Metric("phase.trace_s", traceS, "s"),
      Metric("fail_ratio", Metrics.ratio(failed, attempted), "failed/attempted"),
      Metric("peak_mem_mb", peakMb, "MB"))
    Outcome(attempted, failed, failures.toSeq, metrics, report,
      facts.toSeq.sorted ++ Seq(
        "pages" -> shape.fixture.totalPages.toString,
        "measured_rounds" -> s"${bench.warmRounds}..${bench.lastRound}",
        "lineage_totals" -> s"fetched=${c.fetched} discovered=${c.discovered} deduped=${c.deduped} errors=${c.errors} retries=${c.retries}"))
  }

  /** The traced part: one more segment with the listener on (round spans
    * from its commits), then every measured round replayed layer by layer.
    */
  private def traced(spark: SparkSession, bench: CrawlBench, tracer: Tracer, args: Args,
                     untracedWallMs: Double): (Map[String, Double], Seq[String]) = {
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val clock0 = JvmClock.now()
    val w0 = System.currentTimeMillis()
    val seg = bench.segment()
    val w1 = System.currentTimeMillis()
    val clock1 = JvmClock.now()
    PerfbenchShims.drainListeners(spark.sparkContext)
    val failures = mutable.ArrayBuffer.empty[String] ++ bench.check(seg)

    val roundStats = seg.rounds.map { case (k, s, e) =>
      val w = listener.window(s, e)
      tracer.record(s"round $k", None, s, e, Map(
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_busy_ms" -> w.taskBusyMs.toDouble, "driver_ms" -> w.noTaskMs.toDouble,
        "gc_ms" -> w.gcMs.toDouble, "spill_mb" -> w.spillMb, "shuffle_mb" -> w.shuffleMb))
      w
    }
    val segTask = listener.window(w0, w1 + 1)

    val replay = new Replay(spark, bench, tracer, args.work)
    seg.rounds.foreach { case (k, _, _) =>
      tracer.span(s"replay round $k") { id =>
        replay.round(seg.store, k, id).foreach(m => failures += s"${args.workload}: $m")
      }()
    }
    PerfbenchShims.drainListeners(spark.sparkContext)
    replay.dispose()
    bench.dispose(seg)

    val spans = tracer.all
    def named(n: String) = spans.filter(_.name == n)
    def sum(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum
    def wallMs(n: String) = named(n).map(_.wallNs / 1e6).sum
    def win(n: String) = named(n).map(s => listener.window(s.startMs, s.endMs))
    val probes = sum("filterset.probe", "probes")
    val maybe = sum("filterset.probe", "maybe")
    val maybeUnseen = sum("dedup.antijoin", "maybe_unseen")
    val unseen = probes - maybe + maybeUnseen
    val layerNames = Seq("store.read", "robots", "sched", "fetch", "extract", "url",
      "dedup.winnow", "filterset.probe", "dedup.antijoin", "filterset.fold", "store.write",
      "store.compact", "store.commit")
    val roundWallMs = seg.rounds.map { case (_, s, e) => (e - s).toDouble }.sum
    def med(f: WindowStats => Double) = Stats.median(roundStats.map(f))
    val layer = Map(
      "extract.pages" -> sum("extract", "pages"), "extract.links" -> sum("extract", "links"),
      "extract.busy_ms" -> wallMs("extract"),
      "url.hrefs" -> sum("url", "hrefs"),
      "url.accept_ratio" -> Metrics.ratio(sum("url", "accepted"), sum("url", "hrefs")),
      "url.busy_ms" -> wallMs("url"),
      "filterset.probes" -> probes, "filterset.maybe_ratio" -> Metrics.ratio(maybe, probes),
      "filterset.false_pos_ratio" -> Metrics.ratio(maybeUnseen, unseen),
      "filterset.probe_ms" -> wallMs("filterset.probe"),
      "filterset.fold_ms" -> wallMs("filterset.fold"), "filterset.fold_mb" -> sum("filterset.fold", "mb"),
      "robots.rows" -> sum("robots", "rows"),
      "robots.drop_ratio" -> Metrics.ratio(sum("robots", "dropped"), sum("robots", "rows")),
      "robots.busy_ms" -> wallMs("robots"),
      "sched.rows" -> sum("sched", "rows"),
      "sched.admit_ratio" -> Metrics.ratio(sum("sched", "admitted"), sum("sched", "rows")),
      "sched.busy_ms" -> wallMs("sched"),
      "sched.task_skew" -> Stats.median(win("sched").map(_.taskSkew)),
      "sched.shuffle_mb" -> win("sched").map(_.shuffleMb).sum,
      "fetch.rows" -> sum("fetch", "rows"),
      "fetch.hit_ratio" -> Metrics.ratio(sum("fetch", "hits"), sum("fetch", "rows")),
      "fetch.busy_ms" -> wallMs("fetch"), "fetch.shuffle_mb" -> win("fetch").map(_.shuffleMb).sum,
      "dedup.rows_in" -> sum("dedup.antijoin", "rows_in"),
      "dedup.fresh_ratio" -> Metrics.ratio(unseen, sum("dedup.antijoin", "rows_in")),
      "dedup.antijoin_ms" -> wallMs("dedup.antijoin"),
      "store.write_ms" -> wallMs("store.write"), "store.mb_written" -> sum("store.write", "mb"),
      "store.files_written" -> sum("store.write", "files"),
      "store.commit_ms" -> wallMs("store.commit"), "store.compact_ms" -> wallMs("store.compact"),
      "round.jobs" -> med(_.jobs.toDouble), "round.stages" -> med(_.stages.toDouble),
      "round.tasks" -> med(_.tasks.toDouble), "round.task_busy_ms" -> med(_.taskBusyMs.toDouble),
      "round.driver_ms" -> med(_.noTaskMs.toDouble), "round.gc_ms" -> med(_.gcMs.toDouble),
      "round.spill_mb" -> med(_.spillMb), "round.shuffle_mb" -> med(_.shuffleMb),
      "jvm.driver_cpu_s" -> ((clock1.cpuNs - clock0.cpuNs) / 1e9 - segTask.taskCpuMs / 1000.0),
      "jvm.gc_s" -> (clock1.gcMs - clock0.gcMs) / 1000.0,
      "trace.coverage" -> Metrics.ratio(layerNames.map(wallMs).sum, roundWallMs),
      "trace.overhead_s" -> (seg.wallMs - untracedWallMs) / 1000.0)
    spark.sparkContext.removeSparkListener(listener)
    (layer, failures.toSeq)
  }
}
