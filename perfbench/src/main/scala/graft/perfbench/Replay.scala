package graft.perfbench

import scala.collection.mutable

import graft.crawl.{CrawlRound, SnapshotStore}
import graft.extract.Extract
import graft.filterset.BloomShards
import graft.robots.Robots
import graft.sched.Politeness
import graft.url.{Policy, UrlFunctions, Urls}
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Replays one committed round's stored inputs (frontier, seen parts, bloom
  * dir) through each layer's public function, one span per call. Every call
  * is forced with a `noop` sink, its counts observed in the same job; its
  * output stays cached for the next layer. The replayed fresh set must equal
  * the one the crawl committed.
  *
  * Three steps have no function of their own in the engine: candidate
  * building (canonicalize, policy, hash), the first-enqueue winnow and the
  * crawl-delay budget table are inline code of `CrawlRound.execute`, which
  * the replay re-composes from the same layer functions. It mirrors them
  * for the settings the workloads use and refuses any other.
  */
final class Replay(spark: SparkSession, bench: CrawlBench, tracer: Tracer, workDir: String) {
  private val cfg = bench.shape.cfg
  require(cfg.maxDepth == Int.MaxValue && cfg.rewrite.isEmpty && !cfg.stripTracking &&
    cfg.bloomPrefilter && cfg.seenFilterKind == "bloom" && cfg.trapDetectEvery == 0,
    "the replay mirrors CrawlRound.execute only without maxDepth, rewrite, " +
      "stripTracking or trap feedback and with the bloom pre-filter on")
  private val fc = CrawlRound.FrontierCols.map(col)
  private val seedHosts: Set[String] =
    bench.shape.seeds.flatMap(Urls.canonicalizeAbsolute).map(Urls.hostOf).toSet
  private val out = new SnapshotStore(s"$workDir/replay", spark)

  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private var observed = 0

  /** Persist `df` and force it through a `noop` sink. Its row count and
    * `aggs` are observed in the same job; the cached output feeds the next
    * layer.
    */
  private def force(df: DataFrame, aggs: (String, Column)*): (DataFrame, Map[String, Double]) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    val named = ("rows" -> count(lit(1))) +: aggs
    val cols = named.map { case (n, c) => c.as(n) }
    observed += 1
    val obs = Observation(s"perfbench_replay_$observed")
    p.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
    val row =
      try Await.result(obs.future, 60.seconds)
      catch { case _: java.util.concurrent.TimeoutException => p.agg(cols.head, cols.tail: _*).head() }
    (p, named.indices.map(i =>
      named(i)._1 -> (if (row.isNullAt(i)) 0.0 else row.get(i).toString.toDouble)).toMap)
  }

  private def dirStats(path: String): (Double, Int) = {
    val dir = new java.io.File(path)
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum / 1048576.0, files.length)
  }

  private def candidates(extracted: DataFrame): DataFrame = {
    // the ordinal only orders candidates within the round; the replay needs
    // the winners' set, not the engine's sparse ordinal values
    val ranked = extracted.withColumn("ord", monotonically_increasing_id())
    def accepted(df: DataFrame, policy: graft.model.UrlPolicy, pos: Column): DataFrame =
      df.filter(col("ch").isNotNull)
        .filter(Policy.allowsCol(policy, col("ch._1"), col("ch._2"), seedHosts))
        .select(col("ch._1").as("url"), xxhash64(col("ch._1")).as("urlHash"),
          col("ch._2").as("host"), (col("depth") + 1).as("depth"), col("ord").as("pord"),
          pos.as("pos"), lit(0).as("attempt"))
    val links = accepted(ranked.filter(col("redir").isNull)
      .select(col("url").as("parentUrl"), col("depth"), col("ord"),
        posexplode(col("links")).as(Seq("p", "href")))
      .withColumn("ch", UrlFunctions.canonicalizeWithHost(col("parentUrl"), col("href"))),
      cfg.policy, col("p").cast("long"))
    if (!cfg.followRedirects) links
    else links.unionByName(accepted(ranked.filter(col("redir").isNotNull)
      .withColumn("ch", UrlFunctions.canonicalizeWithHost(col("url"), col("redir"))),
      cfg.redirectPolicy, lit(0L)))
  }

  /** Replay round `k` of the crawl committed in `store` under span `parent`.
    * Returns how the replayed fresh set differs from the committed one
    * (None = equal).
    */
  def round(store: SnapshotStore, k: Int, parent: Int): Option[String] = {
    val p = Some(parent)
    val (frontier, fc0) = tracer.span("store.read", p) { _ =>
      force(spark.read.parquet(Seq("carry", "fresh").filter(store.exists(_, k))
        .map(store.tablePath(_, k)): _*).select(fc: _*))
    }()
    val fCount = fc0("rows").toLong

    val allowed =
      if (bench.shape.robots.isEmpty) frontier
      else tracer.span("robots", p) { _ =>
        val (a, d) = Robots.partition(frontier, bench.robotsDs)
        val (ap, ac) = force(a)
        val (_, dc) = force(d)
        (ap, ac("rows") + dc("rows"), dc("rows"))
      }(r => Map("rows" -> r._2, "dropped" -> r._3))._1

    val hostBudgets =
      if (cfg.roundWallMs > 0 && bench.shape.robots.nonEmpty)
        Some(bench.robotsDs.toDF().filter(col("crawlDelayMs") > 0)
          .select(col("host"), least(lit(cfg.hostBudget.toLong),
            greatest(lit(1L), (lit(cfg.roundWallMs) / col("crawlDelayMs")).cast("long")))
            .cast("int").as("__budget")))
      else None
    val (admitted, admittedN) = tracer.span("sched", p) { _ =>
      val (a, d) = Politeness.partition(allowed, cfg, hostBudgets,
        persist = df => { val q = df.persist(StorageLevel.MEMORY_AND_DISK); held += q; q })
      val (ap, ac) = force(a.select(fc: _*))
      val (_, dc) = force(d.select(fc: _*))
      (ap, ac("rows"), dc("rows"))
    }(r => Map("rows" -> (r._2 + r._3), "admitted" -> r._2)) match { case (a, n, _) => (a, n) }

    val (hits, _) = tracer.span("fetch", p) { _ =>
      force(CrawlRound.fetchJoin(bench.pages, admitted, fCount <= cfg.broadcastFrontierMaxRows))
    }(r => Map("rows" -> admittedN, "hits" -> r._2("rows")))

    val (extracted, ex) = tracer.span("extract", p) { _ =>
      force(hits.withColumn("htmlStr", Extract.htmlStrCol(col("html")))
        .withColumn("redir", Extract.redirectTargetCol(col("htmlStr")))
        .withColumn("links", Extract.linksCol(col("htmlStr")))
        .select(col("url"), col("depth"), col("redir"), col("links")),
        "links" -> sum(size(col("links"))),
        "redirects" -> sum(when(col("redir").isNotNull, 1L).otherwise(0L)))
    }(r => Map("pages" -> r._2("rows"), "links" -> r._2("links")))

    val (cands, _) = tracer.span("url", p) { _ => force(candidates(extracted)) }(r => Map(
      "hrefs" -> (ex("links") + (if (cfg.followRedirects) ex("redirects") else 0.0)),
      "accepted" -> r._2("rows")))

    val (winnowed, _) = tracer.span("dedup.winnow", p) { _ =>
      force(cands.groupBy(col("url"))
        .agg(min(struct(col("pord"), col("pos"), col("depth"), col("urlHash"), col("host"),
          col("attempt"))).as("m"))
        .select(col("url"), col("m.urlHash").as("urlHash"), col("m.host").as("host"),
          col("m.depth").as("depth"), col("m.pord").as("pord"), col("m.pos").as("pos"),
          col("m.attempt").as("attempt")))
    }(r => Map("rows" -> r._2("rows")))

    val (probed, pc) = tracer.span("filterset.probe", p) { _ =>
      force(winnowed.withColumn("__maybe", BloomShards.mightBeSeen(store.bloomDir(k))(
        BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))),
        "maybe" -> sum(when(col("__maybe"), 1L).otherwise(0L)))
    }(r => Map("probes" -> r._2("rows"), "maybe" -> r._2("maybe")))

    val seenParts = store.readSeenParts(k, cfg.shards)
    val (exact, xc) = tracer.span("dedup.antijoin", p) { _ =>
      force(seenParts.foldLeft(probed.filter(col("__maybe")).select(fc: _*))(
        (df, s) => CrawlRound.seenAntiJoin(df, s)))
    }(r => Map("rows_in" -> pc("rows"), "maybe_unseen" -> r._2("rows")))
    val fresh = probed.filter(!col("__maybe")).select(fc: _*).unionByName(exact)
    val freshCount = (pc("rows") - pc("maybe") + xc("rows")).toLong

    val bloomOut = s"${out.root}/bloom_$k"
    tracer.span("filterset.fold", p) { _ =>
      BloomShards.update(spark,
        fresh.select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash")),
        Some(store.bloomDir(k)), bloomOut, cfg)
    }(_ => Map("mb" -> dirStats(bloomOut)._1))

    tracer.span("store.write", p) { _ => out.write("fresh", k + 1, fresh) }(_ => {
      val (mb, files) = dirStats(out.tablePath("fresh", k + 1))
      Map("mb" -> mb, "files" -> files.toDouble)
    })
    if (cfg.compactSeenEvery > 0 && (k + 1) % cfg.compactSeenEvery == 0)
      tracer.span("store.compact", p) { _ =>
        out.writeBucketed("seen_all", k + 1,
          seenParts.reduce(_ unionByName _).unionByName(fresh.select("url", "urlHash")),
          "urlHash", cfg.shards)
      }(_ => Map("mb" -> dirStats(out.tablePath("seen_all", k + 1))._1))
    tracer.span("store.commit", p) { _ =>
      out.commit(k + 1, Map("frontier" -> freshCount, "ord_next" -> 0L))
    }()

    val committed = store.read("fresh", k + 1).select("url")
    val replayed = fresh.select("url")
    val missing = committed.exceptAll(replayed).count()
    val extra = replayed.exceptAll(committed).count()
    held.foreach(_.unpersist())
    held.clear()
    if (missing == 0 && extra == 0) None
    else Some(s"replayed round $k fresh set differs from the committed one: " +
      s"$missing urls missing, $extra extra ($freshCount replayed)")
  }

  def dispose(): Unit = out.clear()
}
