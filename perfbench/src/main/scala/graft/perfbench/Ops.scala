package graft.perfbench

import java.time.LocalDateTime

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.SparkEntry
import graft.fixtures.Fixtures.mix
import graft.ops.{OpCaches, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

final case class RegionRow(r_regionkey: Int, r_name: String)
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: LocalDateTime, o_orderpriority: String)
final case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime)
final case class EventRow(event_id: Long, ts: LocalDateTime, user_id: Long,
    event_type: String, value: Double, props: String)
final case class DocumentRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded generator of the operator suite's input tables: the TPC-H-ish
  * star schema, the events stream, documents with planted near-duplicates,
  * and unit-norm 64-dim embeddings, with the schemas of the tables the query
  * oracles were written against. At scale 1.0, rows and key cardinalities
  * are one tenth of the sf0.1 testdata's (embeddings one quarter) and the
  * categorical domains and document lengths match it (measured in
  * README.md). Every value is a pure function of (seed, table, row).
  */
object Tables extends Serializable {
  val Names: Seq[String] =
    Seq("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

  private def u(seed: Long, t: Long, i: Long, f: Long): Double =
    (mix(seed, t, i, f) >>> 11) * (1.0 / (1L << 53))
  private def pick[A](xs: Seq[A], seed: Long, t: Long, i: Long, f: Long): A =
    xs((u(seed, t, i, f) * xs.size).toInt)
  private def money(x: Double): Double = math.rint(x * 100) / 100
  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private val Words = Seq("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort", "query",
    "fast", "the")

  def docText(seed: Long, i: Long): String = {
    val n = 8 + (u(seed, 7, i, 1) * 82).toInt
    (0 until n).map(w => pick(Words, seed, 7, i, 100 + w)).mkString(" ")
  }

  /** Rows per table at `scale` (1.0 = 1,500 customers, 60,000 line items). */
  final case class Sizes(scale: Double) {
    def n(base: Int): Long = math.max(10L, math.round(base * scale))
    val customers: Long = n(1500); val orders: Long = n(15000); val lineitems: Long = n(60000)
    val events: Long = n(10000); val documents: Long = n(500); val embeddings: Long = n(500)
  }

  def generate(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    import spark.implicits._
    val z = Sizes(scale)
    // the eight small writes run concurrently: each is mostly job overhead
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    def write(name: String, df: DataFrame): Unit =
      writes += Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => RegionRow(i, n) }.toDF())
    write("nation", (0 until 25).map(i => NationRow(i, s"NATION_$i", i % 5)).toDF())
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", spark.range(z.customers).map { i =>
      CustomerRow(i, f"Customer#$i%09d", (u(seed, 1, i, 1) * 25).toInt,
        money(-999.99 + u(seed, 1, i, 2) * 10999.98), pick(segs, seed, 1, i, 3))
    }.toDF())
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", spark.range(z.orders).map { i =>
      OrderRow(i, (u(seed, 2, i, 1) * z.customers).toLong, pick(Seq("F", "O", "P"), seed, 2, i, 2),
        money(1000 + u(seed, 2, i, 3) * 499000), Day0.plusDays((u(seed, 2, i, 4) * 2400).toLong),
        pick(prios, seed, 2, i, 5))
    }.toDF())
    write("lineitem", spark.range(z.lineitems).map { i =>
      val q = 1 + (u(seed, 3, i, 4) * 50).toInt
      LineitemRow((u(seed, 3, i, 1) * z.orders).toLong, (u(seed, 3, i, 2) * 2000).toLong,
        (u(seed, 3, i, 3) * 100).toLong, 1 + (u(seed, 3, i, 5) * 7).toInt, q.toDouble,
        money(q * (900 + u(seed, 3, i, 6) * 2100)), (u(seed, 3, i, 7) * 11).toInt / 100.0,
        (u(seed, 3, i, 8) * 9).toInt / 100.0, pick(Seq("A", "N", "R"), seed, 3, i, 9),
        pick(Seq("F", "O"), seed, 3, i, 10), Day0.plusDays(1 + (u(seed, 3, i, 11) * 2500).toLong))
    }.toDF())
    val evSpanUs = 30L * 24 * 3600 * 1000000L
    write("events", spark.range(z.events).map { i =>
      EventRow(i, Ev0.plusNanos(((i * evSpanUs / z.events) +
        (u(seed, 4, i, 1) * 1000000).toLong) * 1000L), (u(seed, 4, i, 2) * 150).toLong,
        pick(Seq("click", "view", "signup", "purchase", "error"), seed, 4, i, 3),
        money(0.01 + u(seed, 4, i, 4) * 490), s"""{"k": ${(u(seed, 4, i, 5) * 100).toInt}}""")
    }.toDF())
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    write("documents", spark.range(z.documents).map { i =>
      // 1 in 20 documents is an earlier document plus one or two "dup" words
      val text =
        if (i > 0 && u(seed, 6, i, 1) < 0.05)
          docText(seed, (u(seed, 6, i, 2) * i).toLong) + (if (u(seed, 6, i, 3) < 0.5) " dup" else " dup dup")
        else docText(seed, i)
      DocumentRow(i, text, pick(langs, seed, 6, i, 4), s"src${(u(seed, 6, i, 5) * 20).toInt}",
        text.length.toLong)
    }.toDF())
    write("embeddings", spark.range(z.embeddings).map { i =>
      // Box-Muller normals, normalized to unit length
      val g = Array.tabulate(64) { d =>
        val a = math.max(1e-12, u(seed, 8, i, 2L * d)); val b = u(seed, 8, i, 2L * d + 1)
        math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      EmbeddingRow(i, g.map(x => (x / norm).toFloat), (u(seed, 8, i, 999) * 10).toInt)
    }.toDF())
    writes.foreach(Await.result(_, Duration.Inf))
  }
}

/** The operator suite over generated tables. */
final class OpsBench(spark: SparkSession, val dir: String) {
  val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Run `name` to completion through `sink` and return its wall seconds. */
  def run(name: String, sink: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    try sink(queries(name)(spark, dir))
    finally OpCaches.releaseAll()
    (System.nanoTime() - t0) / 1e9
  }

  /** recall@5 against brute force of the four approximate search paths
    * over the generated embeddings (seed-dependent).
    */
  def tableRecalls(): Seq[(String, Double)] = {
    val exact = queries("qd_knn_brute")(spark, dir).cache()
    exact.count()
    val table = Seq("qd_ann_lsh", "qd_ann_lsh_mp", "qd_ann_ivf").map(q =>
      q -> Similarity.recallAtK(queries(q)(spark, dir), exact))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val trained = Similarity.trainCentroids(e, dims = 64, nlist = 16, iters = 3)
    val ivfTrained = "ivf_trained" -> Similarity.recallAtK(
      Similarity.ivfTopK(e, dims = 64, k = 5, nlist = 16, nprobe = 2, centroids = Some(trained)), exact)
    exact.unpersist()
    OpCaches.releaseAll()
    table :+ ivfTrained
  }

  /** recall@5 of the three approximate paths over the fixed clustered
    * table, whose values are independent of the seed.
    */
  def clusteredRecalls(): Seq[(String, Double)] = {
    val c = graft.Bench.clusteredEmbeddings(spark, n = 2000, dims = 64, nClusters = 20)
    val cExact = Similarity.bruteForceTopK(c, k = 5).cache()
    cExact.count()
    val lsh = "clustered_lsh" -> Similarity.recallAtK(
      Similarity.annTopK(c, dims = 64, k = 5, nPlanes = 7, tables = 8), cExact)
    val mp = "clustered_lsh_mp" -> Similarity.recallAtK(
      Similarity.annTopK(c, dims = 64, k = 5, nPlanes = 7, tables = 4, probeBits = 1), cExact)
    val cTrained = Similarity.trainCentroids(c, dims = 64, nlist = 16, iters = 3)
    val ivf = "clustered_ivf_trained" -> Similarity.recallAtK(
      Similarity.ivfTopK(c, dims = 64, k = 5, nlist = 16, nprobe = 2, centroids = Some(cTrained)), cExact)
    cExact.unpersist()
    OpCaches.releaseAll()
    Seq(lsh, mp, ivf)
  }
}

object OpsBench {
  /** recall@5 on the seed-independent clustered table */
  val ClusteredRecall: Map[String, Double] =
    Map("clustered_lsh" -> 0.9762, "clustered_lsh_mp" -> 0.9957, "clustered_ivf_trained" -> 1.0)

  /** Operator family of a query, for the per-layer `ops.*` metrics. */
  def family(name: String): String =
    if (name.matches("q\\d\\d_.*")) "crawlq"
    else if (name.startsWith("qg_")) "graph"
    else if (Seq("knn", "ann_", "embed").exists(name.contains)) "similarity"
    else if (Seq("dedup", "ngram", "fingerprint", "dup_ngrams", "strip_spans", "decontam")
        .exists(name.contains)) "dedup"
    else if (Seq("curate", "pack", "write_shards", "balance", "sample", "cap_domain",
        "host_ledger", "quality", "repetition").exists(name.contains)) "curate"
    else "text"

  val Families: Seq[String] = Seq("similarity", "dedup", "graph", "curate", "text", "crawlq")
}
