package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._

/** End-to-end driver for the crawl engine over a deterministic fixture web:
  * politeness budgets + robots + runners + checkpoint/resume, printing the
  * crawl order, lineage and crawlkit-shaped result export.
  *
  * Usage: runMain graft.CrawlDemo [nHosts] [maxPagesPerHost] [hostBudget] [maxRounds] [warc]
  *
  * 5th arg `warc` routes the page source through the REAL ingestion path:
  * the fixture web is serialized to multi-file `.warc.gz` archives
  * (per-record gzip members, HTTP payloads mixing plain/chunked/
  * gzip-encoded bodies), read back with [[graft.sources.Warc]], HTTP-decoded,
  * and bucketed into the page store before the crawl runs. Goldens match
  * the in-memory source (same web, byte-identical extracted text).
  */
object CrawlDemo {
  object TitleRunner extends PageRunner {
    def apply(p: Page): Either[String, String] =
      "<title>([^<]*)</title>".r.findFirstMatchIn(new String(p.html, "UTF-8"))
        .map(_.group(1)).toRight("no-title")
  }

  def main(args: Array[String]): Unit = {
    val nHosts = args.lift(0).map(_.toInt).getOrElse(5)
    val maxPages = args.lift(1).map(_.toInt).getOrElse(30)
    val budget = args.lift(2).map(_.toInt).getOrElse(4)
    val maxRounds = args.lift(3).map(_.toInt).getOrElse(64)
    val spark = GraftSpark.session("graft-crawl-demo")
    import spark.implicits._

    val useWarc = args.lift(4).contains("warc")
    val fix = FixtureConfig(nHosts = nHosts, maxPagesPerHost = maxPages)
    val pages =
      if (!useWarc) Fixtures.generateDS(spark, fix).toDF()
      else {
        val warcDir = java.nio.file.Files.createTempDirectory("crawl-demo-warc").toString
        graft.fixtures.WarcFixture.writeWarcGz(Fixtures.generate(fix), warcDir, files = 4)
        println(s"== source: WARC archives at $warcDir")
        val storeDir = java.nio.file.Files.createTempDirectory("crawl-demo-pagestore").toString
        graft.crawl.PageStore.prepareBucketed(spark,
          graft.sources.Warc.toPages(graft.sources.Warc.readRecords(spark, warcDir)),
          "t_crawl_demo_warc_pages", 8, storeDir)
      }
    val robots = spark.createDataset(Seq(
      RobotsRule("h0.test", disallow = Seq("/p/13"), allow = Seq.empty, crawlDelayMs = 0L)))
    val cfg = CrawlConfig(hostBudget = budget, maxRounds = maxRounds)
    val storeDir = sys.props.getOrElse("graft.store",
      java.nio.file.Files.createTempDirectory("crawl-demo").toString)
    val store = new SnapshotStore(storeDir, spark)

    println(s"== store: $storeDir  (resumable: re-run with -Dgraft.store=$storeDir)")
    val loop = new CrawlLoop(spark, cfg, pages, robots, Map("title" -> TitleRunner), store)
    val t0 = System.nanoTime()
    val out = loop.run(Seq(Fixtures.urlOf(0, 0), Fixtures.urlOf(1, 0)))
    val sec = (System.nanoTime() - t0) / 1e9

    println(f"== crawl finished: roundsRun=${out.roundsRun} lastRound=${out.lastRound} in $sec%.1fs")
    println("== crawl order (first 10):")
    out.order(spark).show(10, truncate = false)
    println("== lineage (by round):")
    out.lineage(spark).groupBy("round")
      .sum("admitted", "fetched", "discovered", "dedupDropped", "robotsDropped", "budgetDeferred", "errors", "retries")
      .orderBy("round").show(100, truncate = false)
    println("== results sample (crawlkit-shaped JSON):")
    out.resultsJson(spark).orderBy("url").show(5, truncate = false)
    val seenN = out.seen(spark).count()
    val orderN = out.order(spark).count()
    println(s"== seen=$seenN fetched=$orderN")
    spark.stop()
  }
}
