package graft.crawl

import graft.filterset.BloomShards
import graft.model._
import graft.robots.Robots
import graft.url.Urls
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver iteration over crawl rounds (reference analog: the async.queue
  * drain loop; SURVEY.md §3.2). Every round commits atomically to the
  * [[SnapshotStore]] — frontier, seen-set additions, bloom shards, crawl
  * order, results, per-shard lineage — so a killed job resumes from the
  * latest committed round without re-fetching (BASELINE.json:6).
  */
final case class CrawlOutcome(store: SnapshotStore, roundsRun: Int, lastRound: Int,
                              seenShards: Int) {
  /** lastRound < 0 (a crawl that never ran a round) yields EMPTY frames with
    * the right schema instead of readUpTo's "no committed data" error.
    */
  private def emptyOr[T <: Product: scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession)(read: => DataFrame): DataFrame =
    if (lastRound < 0)
      spark.createDataset(Seq.empty[T])(org.apache.spark.sql.Encoders.product[T]).toDF()
    else read
  def order(spark: SparkSession): DataFrame =
    emptyOr[graft.model.CrawlOrderRow](spark)(
      store.readUpTo("order", lastRound).orderBy(col("round"), col("pord"), col("pos")))
  /** The complete URL-seen set. Reads through the compacted snapshot chain
    * ([[SnapshotStore.readSeenParts]]): the latest bucketed base plus only
    * the post-compaction deltas — O(compaction interval) file fan-in, not
    * one parquet dir per round of a long crawl.
    */
  def seen(spark: SparkSession): DataFrame =
    store.readSeenParts(lastRound + 1, seenShards).reduce(_ unionByName _)
  def results(spark: SparkSession): DataFrame =
    emptyOr[graft.model.RunnerResult](spark)(store.readUpTo("results", lastRound))
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(store.readLineage(lastRound)).toDF()
  }

  /** crawlkit-shaped nested results export: one JSON object per URL
    * (SURVEY.md §2 #13/#14): {"url":..., "runners": {key: {result|error}}}
    */
  def resultsJson(spark: SparkSession): DataFrame = {
    val r = results(spark)
    r.groupBy(col("url"))
      .agg(map_from_entries(array_sort(collect_list(struct(
        col("runner"),
        struct(col("result"), col("error")))))).as("runners"))
      .select(col("url"), to_json(struct(col("url"), col("runners"))).as("json"))
  }
}

/** PRECONDITION on `pages`: one row per url. Common-Crawl-style stores hold
  * multiple captures per URL — collapse them ONCE with
  * [[PageStore.latestCapture]] (or prepare the store with
  * [[PageStore.prepareBucketed]], which also dedups and buckets by urlHash
  * so the fetch join never re-shuffles the store side). Duplicate rows would
  * multiply fetch hits and duplicate runner-result keys.
  */
class CrawlLoop(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages0: DataFrame,
    robots: Dataset[RobotsRule],
    runners: Map[String, PageRunner],
    store: SnapshotStore) {

  import spark.implicits._
  private val fc = CrawlRound.FrontierCols.map(col)
  /** fetch joins key on urlHash; computing it here (if absent) keeps raw
    * stores working — but only a store PREPARED with the hash materialized
    * and bucketed gets the shuffle-free scan
    */
  private val pages = PageStore.withUrlHash(pages0)
  // one action at loop construction, not one per round
  private lazy val robotsEmpty: Boolean = robots.isEmpty

  /** canonicalize + dedupe seeds driver-side (a seed list is tiny);
    * seed i gets key (pord = -1, pos = i) — before every fetched page
    */
  private def seedFrontier(seeds: Seq[String]): (DataFrame, Set[String]) = {
    val entries = seeds.zipWithIndex
      .flatMap { case (s, i) =>
        Urls.canonicalizeAbsolute(s)
          .map(u => if (cfg.stripTracking) Urls.stripTrackingParams(u) else u)
          .map(u => FrontierEntry(u, 0L, Urls.hostOf(u), 0, -1L, i.toLong, 0))
      }
      .groupBy(_.url).values.map(_.minBy(_.pos)).toSeq.sortBy(_.pos)
    val df = spark.createDataset(entries).toDF()
      .withColumn("urlHash", xxhash64(col("url")))
      .select(fc: _*)
    (df, entries.map(_.host).toSet)
  }

  /** one table per round serves as BOTH frontier delta and seen delta:
    * frontier(k) = carry(k) ∪ fresh(k); seen = ∪ fresh(0..k)
    */
  private def readFrontier(k: Int): DataFrame = {
    val paths = Seq("carry", "fresh").filter(store.exists(_, k)).map(store.tablePath(_, k))
    require(paths.nonEmpty, s"no frontier data for round $k")
    spark.read.parquet(paths: _*).select(fc: _*)
  }

  private def initRound0(seeds: Seq[String]): Unit = {
    val (f0, _) = seedFrontier(seeds)
    store.write("fresh", 0, f0)
    BloomShards.update(spark,
      store.read("fresh", 0)
        .select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash")),
      None, store.bloomDir(0), cfg)
    val n = store.read("fresh", 0).count()
    store.commit(0, Map("frontier" -> n, "ord_next" -> 0L))
  }

  /** Seen set as of round k, as SNAPSHOT PARTS for chained anti-joins: the
    * latest compacted base (a bucketed table — its anti-join needs no
    * Exchange on this, the big, side) plus the uncompacted per-round deltas
    * as one union. Never merged into one frame: a union would erase the
    * base's bucketing.
    */
  private def readSeen(k: Int): Seq[DataFrame] = store.readSeenParts(k, cfg.shards)

  /** Trap detection at boundary b (cfg.trapDetectEvery): the distributed
    * twin of [[graft.ref.ReferenceCrawl.detectTraps]] — [[graft.url.Traps]]
    * over the seen set as of round b. The collect is host-cardinality
    * bounded AND pre-filtered to flagged hosts only (a handful by
    * definition of a trap), never URL data.
    */
  private def detectTraps(b: Int): Set[String] = {
    val seenUrls = readSeen(b).reduce(_ unionByName _).select("url")
      .withColumn("host", graft.url.UrlFunctions.hostOfUdf(col("url")))
    graft.url.Traps
      .detect(seenUrls, hostCol = "host", urlCol = "url",
        minUrls = cfg.trapMinUrls, minRatioBp = cfg.trapMinRatioBp)
      .filter(col("trap"))
      .select("host").as[String].collect().toSet
  }

  /** trapped hosts fold into BOTH policies as an exact-host deny — the
    * enqueue-time filter is then the ordinary policy evaluation, identical
    * (by the shared ADT) to the oracle's `!trapHosts(h)` check
    */
  private def withTrapDeny(trapHosts: Set[String]): CrawlConfig =
    if (trapHosts.isEmpty) cfg
    else {
      val deny = UrlPolicy.DenyHosts(trapHosts)
      cfg.copy(policy = UrlPolicy.And(Seq(cfg.policy, deny)),
        redirectPolicy = UrlPolicy.And(Seq(cfg.redirectPolicy, deny)))
    }

  /** Run (or resume) the crawl to completion. */
  def run(seeds: Seq[String]): CrawlOutcome = {
    val (_, seedHosts) = seedFrontier(seeds)
    require(seedHosts.nonEmpty,
      s"no seed URL canonicalized to a fetchable absolute URL (seeds: ${seeds.take(5).mkString(", ")}…)")
    if (!robotsEmpty) Robots.requireUniqueHosts(robots)
    val startRound = store.latestCommitted match {
      case Some(k) => k
      case None => initRound0(seeds); 0
    }
    var k = startRound
    var frontierCount = store.committedMeta(k).flatMap(_.get("frontier"))
      .getOrElse(readFrontier(k).count())
    // fetch-ordinal watermark: committed per round so a resumed run mints
    // ordinals from exactly where the killed run left off
    var ordBase = store.committedMeta(k).flatMap(_.get("ord_next")).getOrElse(0L)
    // RESUME-SAFE trap state: detection is a pure function of the seen set
    // at each boundary, so a resumed run recomputes the union over all
    // past boundaries and lands on the exact trap set the killed run had
    // (traps are not monotone per boundary — a host's ratio can fall as
    // authored URLs accumulate — hence the union, matching the oracle's
    // accumulating `trapHosts ++=`)
    var trapHosts: Set[String] =
      if (cfg.trapDetectEvery <= 0) Set.empty
      else (cfg.trapDetectEvery to startRound by cfg.trapDetectEvery)
        .flatMap(detectTraps).toSet
    var rounds = 0
    while (frontierCount > 0 && k < cfg.maxRounds) {
      val t0 = System.nanoTime()
      // trapped hosts purge from the carried frontier (exact host match,
      // mirroring the oracle's boundary-time filterNot) …
      val frontier0 = readFrontier(k)
      val frontier =
        if (trapHosts.isEmpty) frontier0
        else frontier0.filter(!col("host").isin(trapHosts.toSeq.sorted: _*))
      val seen = readSeen(k)
      // … and stop enqueuing via the policy composition
      val out = CrawlRound.execute(spark, withTrapDeny(trapHosts), k, frontier,
        frontierCount, pages,
        robots, robotsEmpty, seen, Some(store.bloomDir(k)), seedHosts, runners, ordBase)

      // The fresh write is the round's ONE materializing pass (its lineage
      // computes every per-round cache) and doubles as both the next
      // frontier delta and the seen delta — no separate warm-up count, no
      // separate seen_add write job.
      store.write("fresh", k + 1, out.fresh)
      // cache-hit counts decide the loop condition — the heavy per-shard
      // stats aggregation stays OFF the round barrier entirely
      val freshCountF = Future(out.fresh.count())
      val carryCountF = Future(out.carry.count())
      val statsF = Future(out.stats.collect())
      // ...then the independent output jobs run CONCURRENTLY (they only
      // read caches + small recomputes); the round barrier is the await
      val outputs = Seq(
        Future(store.write("order", k, out.order)),
        Future(store.write("results", k, out.results)),
        Future(store.write("carry", k + 1, out.carry)),
        Future(BloomShards.update(spark,
          out.fresh.select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash")),
          Some(store.bloomDir(k)), store.bloomDir(k + 1), cfg)))
      Await.result(Future.sequence(outputs), Duration.Inf)
      frontierCount = Await.result(freshCountF, Duration.Inf) +
        Await.result(carryCountF, Duration.Inf)
      if (cfg.compactSeenEvery > 0 && (k + 1) % cfg.compactSeenEvery == 0)
        store.writeBucketed("seen_all", k + 1,
          readSeen(k).reduce(_ unionByName _)
            .unionByName(store.read("fresh", k + 1).select("url", "urlHash")),
          "urlHash", cfg.shards)

      // Lineage is DURABLE: the per-shard stats aggregation (launched above,
      // overlapping the output writes — it reads only the round's caches)
      // is awaited and its rows written BEFORE commit(k+1), so a committed
      // round always has its lineage on disk; a crash loses at most the
      // round that was going to be re-run anyway. The rows live on the
      // driver — one small FS write, no Spark job.
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val statRows = Await.result(statsF, Duration.Inf)
      val lineage = statRows.groupBy(_.getInt(0)).map { case (shard, rows) =>
        val m = rows.map(r => r.getString(1) -> r.getLong(2)).toMap.withDefaultValue(0L)
        Lineage(k, shard, m("admitted"), m("fetched"), m("discovered"),
          m("discovered") - m("fresh"), m("robots_dropped"), m("budget_deferred"),
          m("errors"), m("retries"), wallMs)
      }.toSeq
      store.writeLineage(k, lineage)
      out.persisted.foreach(_.unpersist())

      ordBase = CrawlRound.nextOrdBase(ordBase, math.max(1, cfg.shards))
      store.commit(k + 1, Map(
        "frontier" -> frontierCount,
        "ord_next" -> ordBase,
        "wall_ms" -> wallMs))
      k += 1
      rounds += 1
      // trap boundary AFTER commit: driver-only state, recomputed on
      // resume from exactly this committed seen set (see trapHosts init)
      if (cfg.trapDetectEvery > 0 && k % cfg.trapDetectEvery == 0)
        trapHosts ++= detectTraps(k)
    }
    CrawlOutcome(store, rounds, k - 1, cfg.shards)
  }
}

object CrawlLoop {
  /** Loop with rules derived from a (host, robots_txt) table, parsed for
    * `cfg.agent`'s RFC 9309 group — the wiring for a crawl that fetched (or
    * was handed) raw robots.txt content.
    */
  def withTextRobots(spark: SparkSession, cfg: CrawlConfig, pages: DataFrame,
                     robotsTexts: DataFrame, runners: Map[String, PageRunner],
                     store: SnapshotStore): CrawlLoop =
    new CrawlLoop(spark, cfg, pages,
      Robots.fromTexts(robotsTexts, agent = cfg.agent), runners, store)

  /** Loop with rules derived from the page store's own `/robots.txt`
    * captures (the zero-extra-input path for WARC-ingested stores), parsed
    * for `cfg.agent`'s RFC 9309 group.
    */
  def withStoreRobots(spark: SparkSession, cfg: CrawlConfig, pages: DataFrame,
                      runners: Map[String, PageRunner], store: SnapshotStore): CrawlLoop =
    new CrawlLoop(spark, cfg, pages,
      Robots.fromPages(pages, agent = cfg.agent), runners, store)
}
