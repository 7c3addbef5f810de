package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import org.apache.spark.sql.functions._

/** Crawl-throughput benchmark (BASELINE.md): runs the full frontier loop
  * over a distributed-generated synthetic page store and reports
  * URLs-fetched+deduped/sec. Its one job is throughput at a core count or
  * master of the caller's choosing: run the SAME job at two parallelism
  * levels (SPARK_GRAFT_CPUS=8 vs 32, or SPARK_GRAFT_MASTER=local-cluster[...])
  * on the same parquet input for the N-vs-4N scaling criterion. Per-phase
  * and per-stage attribution belongs to `perfbench/run.py --trace 1`.
  *
  * Usage: runMain graft.CrawlBench [nHosts] [maxPagesPerHost] [linksPerPage] [maxRounds] [budget] [bcastRows]
  * Emits a {"bench":"rounds_curve",...} line (per-round work and wall) and
  * one {"bench":"crawl","cpus":N,"pages":P,"fetched":F,"discovered":D,
  * "wall_sec":W,"throughput_urls_per_sec":(F+D)/W,...} line.
  */
object CrawlBench {

  def main(args: Array[String]): Unit = {
    val nHosts = args.lift(0).map(_.toInt).getOrElse(64)
    val maxPages = args.lift(1).map(_.toInt).getOrElse(100000)
    val links = args.lift(2).map(_.toInt).getOrElse(8)
    val maxRounds = args.lift(3).map(_.toInt).getOrElse(8)
    val budget = args.lift(4).map(_.toInt).getOrElse(maxPages)
    // 0 = always sort-merge/shuffle join (the at-scale shape); >0 = broadcast
    // the frontier below this row count (the small-frontier shape)
    val bcastRows = args.lift(5).map(_.toLong).getOrElse(0L)
    val cpus = GraftSpark.cpus
    // SPARK_GRAFT_MASTER=local-cluster[4,8,16384] spawns separate executor
    // JVMs (the form the north rule's N vs 4N executors actually takes);
    // they need the compiled classes and their own heap
    val spark = GraftSpark.session(s"graft-crawl-bench-$cpus",
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"),
      "spark.executor.extraClassPath" -> new java.io.File("target/scala-2.13/classes").getAbsolutePath,
      "spark.driver.memory" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    import spark.implicits._

    val fix = FixtureConfig(nHosts = nHosts, maxPagesPerHost = maxPages,
      linksPerPage = links, pctCrossDomain = 20, pctRedirect = 4, pctDangling = 4)
    // materialize the page store ONCE per shape, bucketed by urlHash (the
    // fetch join never re-shuffles the store side); every parallelism level
    // reads the same input (driver instruction: same input, two core counts)
    val tbl = s"graft_bench_pages_h${nHosts}_p${maxPages}_l$links"
    val dir = s"/tmp/graft-bench/pages_bkt_h${nHosts}_p${maxPages}_l$links"
    val pages =
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        graft.crawl.PageStore.prepareBucketed(spark,
          Fixtures.generateDS(spark, fix).toDF(), tbl, 64, dir, dedupCaptures = false)
      else
        graft.crawl.PageStore.reattach(spark, tbl, dir,
          graft.crawl.PageStore.PageSchemaDdl, "urlHash", 64)
    val nPages = fix.totalPages

    val storeDir = java.nio.file.Files.createTempDirectory(s"crawl-bench-$cpus").toString
    val store = new SnapshotStore(storeDir, spark)
    val cfg = CrawlConfig(
      policy = UrlPolicy.AllowAll,
      hostBudget = budget,
      maxRounds = maxRounds,
      shards = cpus,
      broadcastFrontierMaxRows = bcastRows,
      bloomExpectedPerShard = math.max(1L << 16, 4L * nPages / cpus))
    val seeds = (0 until nHosts).map(h => Fixtures.urlOf(h, 0L))
    val loop = new CrawlLoop(spark, cfg, pages, spark.emptyDataset[RobotsRule], Map.empty, store)

    val t0 = System.nanoTime()
    val out = loop.run(seeds)
    val wall = (System.nanoTime() - t0) / 1e9

    val lin = out.lineage(spark)
      .agg(sum("fetched"), sum("discovered"), sum("dedupDropped"), sum("errors"), sum("retries"))
      .collect()(0)
    val fetched = lin.getLong(0); val discovered = lin.getLong(1)
    val deduped = lin.getLong(2); val errors = lin.getLong(3); val retries = lin.getLong(4)
    val thr = (fetched + discovered) / wall

    // per-round (round, work, wall): a flat wall in the tail shows the
    // per-round fixed cost and the seen/compaction chain do NOT grow with
    // round count (a 10^10-URL crawl is hundreds of rounds)
    val perRound = out.lineage(spark).groupBy("round")
      .agg(sum(col("fetched") + col("discovered")).as("work"), max("wallMs").as("wallMs"))
      .orderBy("round")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val curve = perRound.map { case (k, work, ms) => s"[$k,$work,$ms]" }
    println(s"""{"bench":"rounds_curve","cpus":$cpus,"compact_every":${cfg.compactSeenEvery},""" +
      s""""rounds":${out.roundsRun},"curve":[${curve.mkString(",")}]}""")

    // steady-state throughput (SURVEY.md §7.7): the big BFS-wave rounds only.
    // Tail/warmup rounds are fixed per-round overhead that any real 10^10
    // crawl amortizes away; include rounds doing >=10% of the peak round's work
    val peak = perRound.map(_._2).max
    val steady = perRound.filter(_._2 >= peak / 10)
    val steadyThr = steady.map(_._2).sum.toDouble / (steady.map(_._3).sum.toDouble / 1000.0)

    println(s"""{"bench":"crawl","cpus":$cpus,"pages":$nPages,"rounds":${out.roundsRun},""" +
      s""""fetched":$fetched,"discovered":$discovered,"deduped":$deduped,"errors":$errors,""" +
      s""""retries":$retries,"wall_sec":${f"$wall%.2f"},"throughput_urls_per_sec":${f"$thr%.1f"},""" +
      s""""steady_rounds":${steady.length},"steady_throughput_urls_per_sec":${f"$steadyThr%.1f"}}""")
    store.clear()
    spark.stop()
  }
}
