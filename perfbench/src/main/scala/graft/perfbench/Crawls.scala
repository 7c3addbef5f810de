package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.crawl.{CrawlLoop, CrawlOutcome, PageStore, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import graft.ref.ReferenceCrawl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One crawl workload: the generated web, the seeds, the crawl settings and
  * the side tables. Everything is a pure function of the fixture seed.
  */
final case class CrawlShape(
    name: String,
    fixture: FixtureConfig,
    seeds: Seq[String],
    cfg: CrawlConfig,
    robots: Seq[RobotsRule],
    runners: Map[String, PageRunner],
    /** rounds of the untimed warm-up crawl (same web, same settings) */
    warmupRounds: Int)

/** The title runner of crawl_tail: a deterministic pure function of the page */
object TitleRunner extends PageRunner {
  private val Title = "<title>([^<]*)</title>".r
  def apply(p: Page): Either[String, String] = {
    val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
    Title.findFirstMatchIn(html).map(m => Right(m.group(1)))
      .getOrElse(Left("no title"))
  }
}

object CrawlShapes {

  /** The at-scale BFS wave: a 15,000-page Zipf web over 64 hosts (host 0
    * is the mega-host), 8 links per page, 20% cross-domain links, AllowAll
    * policy, a budget no host reaches, and a fetch join forced to
    * sort-merge. Rounds 0-1 warm up; rounds 2-6 carry most of the crawl's
    * URLs.
    */
  def wave(seed: Long, toy: Boolean): CrawlShape = {
    val fix = FixtureConfig(nHosts = if (toy) 8 else 64,
      maxPagesPerHost = if (toy) 200 else 3200, linksPerPage = 8,
      pctCrossDomain = 20, pctRedirect = 4, pctDangling = 4, seed = seed)
    val cfg = CrawlConfig(
      policy = UrlPolicy.AllowAll,
      hostBudget = fix.maxPagesPerHost,
      maxRounds = if (toy) 4 else 7,
      shards = Session.ShufflePartitions,
      broadcastFrontierMaxRows = 0L,
      bloomExpectedPerShard =
        math.max(1L << 16, 4L * fix.totalPages / Session.ShufflePartitions))
    CrawlShape("crawl_wave", fix, (0 until fix.nHosts).map(Fixtures.urlOf(_, 0L)),
      cfg, Seq.empty, Map.empty, warmupRounds = 2)
  }

  /** The crawlkit-semantics long crawl: a small web whose frontier is mostly
    * deferred by a per-host budget, with SameDomain policy over the six of
    * eight hosts that hold seeds, robots disallows and crawl-delays, one
    * title runner, retries, redirects, and seen-set compaction every 2
    * rounds. Each round does little data work, so the per-round fixed cost
    * dominates. Round 0 warms up; round 1, which compacts, is measured.
    */
  def tail(seed: Long, toy: Boolean): CrawlShape = {
    val fix = FixtureConfig(nHosts = 8, maxPagesPerHost = if (toy) 60 else 2000,
      linksPerPage = 6, pctCrossDomain = 15, pctRedirect = 8, pctDangling = 8,
      seed = seed)
    val cfg = CrawlConfig(
      followRedirects = true,
      policy = UrlPolicy.SameDomain,
      hostBudget = if (toy) 4 else 16,
      roundWallMs = 8000L,
      maxRounds = 2,
      shards = Session.ShufflePartitions,
      compactSeenEvery = 2,
      bloomExpectedPerShard = 1L << 16)
    val robots = Seq(
      RobotsRule(Fixtures.hostName(0), disallow = Seq("/p/1*0$"), allow = Seq.empty, crawlDelayMs = 0L),
      RobotsRule(Fixtures.hostName(1), disallow = Seq("/p/2"), allow = Seq("/p/2$"), crawlDelayMs = 500L),
      RobotsRule(Fixtures.hostName(2), disallow = Seq.empty, allow = Seq.empty, crawlDelayMs = 2000L),
      RobotsRule(Fixtures.hostName(3), disallow = Seq("/p/3", "/p/*7$"), allow = Seq.empty, crawlDelayMs = 1000L))
    // 4 seed pages on each of six hosts: from round 1 on every host's
    // frontier exceeds its budget, so the measured round fetches the same
    // budgeted amount whatever the seed
    val seeds = for (h <- 0 until 6; i <- 0L until 4L) yield Fixtures.urlOf(h, i)
    CrawlShape("crawl_tail", fix, seeds, cfg, robots,
      Map("title" -> TitleRunner), warmupRounds = 1)
  }
}

/** One crawl segment: its wall, per-round brackets and lineage totals. */
final case class Segment(
    store: SnapshotStore,
    wallMs: Double,
    /** (round, start ms, end ms), bracketed by the commit markers */
    rounds: Seq[(Int, Long, Long)],
    /** measured round -> fetched + discovered */
    roundWork: Map[Int, Long],
    outcome: CrawlOutcome)

/** Counts a finished crawl is checked on. */
final case class CrawlCounts(fetched: Long, discovered: Long, deduped: Long,
    errors: Long, retries: Long)

/** Drives one crawl workload inside one JVM: prepares the page store, runs
  * the untimed warm-up rounds once, then runs measured segments, each
  * resuming a copy of the warm store from its last committed round.
  */
final class CrawlBench(spark: SparkSession, val shape: CrawlShape, workDir: String) {
  import spark.implicits._

  private var pagesDf: DataFrame = _
  private var segSeq = 0
  lazy val robotsDs = spark.createDataset(shape.robots)
  val warmRounds: Int = shape.warmupRounds
  val lastRound: Int = shape.cfg.maxRounds - 1

  /** Generate the web and write it as the urlHash-bucketed page store, as a
    * deployment prepares its store. Returns the seconds it took.
    */
  def prepareStore(rep: Int): Double = {
    val t0 = System.nanoTime()
    pagesDf = PageStore.prepareBucketed(spark,
      Fixtures.generateDS(spark, shape.fixture).toDF(), s"perfbench_pages_$rep",
      Session.PageBuckets, s"$workDir/pages_$rep", dedupCaptures = false)
    (System.nanoTime() - t0) / 1e9
  }

  def pages: DataFrame = pagesDf

  def loop(store: SnapshotStore, maxRounds: Int): CrawlLoop =
    new CrawlLoop(spark, shape.cfg.copy(maxRounds = maxRounds), pagesDf, robotsDs,
      shape.runners, store)

  private lazy val warmStore = new SnapshotStore(s"$workDir/warm", spark)

  /** The untimed warm-up: the crawl's first rounds, committed once. */
  def warmUp(): Double = {
    val t0 = System.nanoTime()
    loop(warmStore, warmRounds).run(shape.seeds)
    (System.nanoTime() - t0) / 1e9
  }

  /** Resume a fresh copy of the warm store through the measured rounds. */
  def segment(): Segment = {
    segSeq += 1
    val root = s"$workDir/seg_$segSeq"
    CrawlBench.copyTree(Paths.get(warmStore.root), Paths.get(root))
    val store = new SnapshotStore(root, spark)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = loop(store, shape.cfg.maxRounds).run(shape.seeds)
    val wallMs = (System.nanoTime() - t0) / 1e6
    // the copied commit of the first measured round predates this segment:
    // that round starts when the resumed loop does
    val measured = CrawlBench.roundBrackets(store, out.lastRound).filter(_._1 >= warmRounds)
      .map { case (k, s, e) => if (k == warmRounds) (k, startMs, e) else (k, s, e) }
    val work = store.readLineage(out.lastRound).filter(_.round >= warmRounds)
      .groupBy(_.round).map { case (r, ls) => r -> ls.map(l => l.fetched + l.discovered).sum }
    Segment(store, wallMs, measured, work, out)
  }

  def counts(seg: Segment): CrawlCounts = {
    val lin = seg.store.readLineage(seg.outcome.lastRound)
    CrawlCounts(lin.map(_.fetched).sum, lin.map(_.discovered).sum,
      lin.map(_.dedupDropped).sum, lin.map(_.errors).sum, lin.map(_.retries).sum)
  }

  /** The sequential reference crawl over the same web and settings. */
  lazy val reference: ReferenceCrawl.RefResult = {
    val web = Fixtures.generate(shape.fixture).map(p => p.url -> p).toMap
    ReferenceCrawl.crawl(web, shape.robots, shape.seeds, shape.cfg, shape.runners)
  }

  /** Compare a finished crawl with the reference: crawl order, seen set,
    * runner/redirect/error results and the counts the reference defines.
    * Returns the mismatches found (empty = correct).
    */
  def check(seg: Segment): Seq[String] = {
    val ref = reference
    val out = seg.outcome
    val order = out.order(spark).select("url", "round", "depth").as[(String, Int, Int)].collect().toSeq
    val refOrder = ref.order.map(o => (o.url, o.round, o.depth))
    val seen = out.seen(spark).select("url").as[String].collect()
    val results = out.results(spark).select("url", "round", "runner", "result", "error")
      .as[(String, Int, String, Option[String], Option[String])].collect().toSet
    val refResults = ref.results.map(r => (r.url, r.round, r.runner, r.result, r.error)).toSet
    val c = counts(seg)
    Seq(
      (order == refOrder) -> s"crawl order differs (${order.size} vs ${refOrder.size} rows)",
      (seen.length == ref.seen.size && seen.toSet == ref.seen) ->
        s"seen set differs (${seen.length} vs ${ref.seen.size})",
      (results == refResults) -> s"results differ (${results.size} vs ${refResults.size})",
      (c.fetched == ref.order.size) -> s"fetched ${c.fetched} vs ${ref.order.size}",
      (c.errors == ref.results.count(_.runner == "__fetch__")) -> s"errors ${c.errors}",
      (c.discovered - c.deduped == ref.seen.size - shape.seeds.distinct.size) ->
        s"fresh ${c.discovered - c.deduped} vs ${ref.seen.size - shape.seeds.distinct.size}",
      (out.lastRound == lastRound || ref.rounds < shape.cfg.maxRounds) -> s"stopped at ${out.lastRound}"
    ).collect { case (false, msg) => s"${shape.name}: $msg" }
  }

  /** The facts the golden file pins for a seed. */
  def goldenFacts(seg: Segment): Map[String, String] = {
    val c = counts(seg)
    Map(
      "fetched" -> c.fetched.toString, "discovered" -> c.discovered.toString,
      "deduped" -> c.deduped.toString, "errors" -> c.errors.toString,
      "retries" -> c.retries.toString,
      "order_sha256" -> Golden.sha256(reference.order.map(_.url)),
      "seen_sha256" -> Golden.sha256(reference.seen.toSeq.sorted))
  }

  def dispose(seg: Segment): Unit = seg.store.clear()
}

object CrawlBench {
  /** Round k runs between the commit of round k and the commit of round
    * k+1; the commit markers' modification times bracket it.
    */
  def roundBrackets(store: SnapshotStore, lastRound: Int): Seq[(Int, Long, Long)] = {
    def ts(r: Int): Long =
      Files.getLastModifiedTime(Paths.get(s"${store.root}/_commits/round_$r.json")).toMillis
    (0 to lastRound).map(k => (k, ts(k), ts(k + 1)))
  }

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }
}
