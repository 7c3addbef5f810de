package graft.perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** One reported figure. */
final case class Metric(name: String, value: Double, unit: String)

/** What one benchmark process reports back to `run.py`. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    /** mismatches and errors, one line each */
    failures: Seq[String],
    /** the end-to-end metrics (trace 0) or the per-layer ones (trace 1) */
    metrics: Seq[Metric],
    /** the same figures under the names of the per-workload table, for people */
    report: Seq[Metric],
    /** pinned facts and input descriptions */
    facts: Seq[(String, String)])

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    out: String,
    spans: String,
    golden: String,
    toy: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("spans"),
      kv.getOrElse("golden", ""), kv.get("toy").contains("1"))
  }
}

/** Process CPU and GC clocks, for the driver-side cost of a window. */
final case class JvmClock(cpuNs: Long, gcMs: Long)
object JvmClock {
  def now(): JvmClock = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    JvmClock(os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }
}

/** Peak memory the program holds during one window: after every garbage
  * collection in the window, the memory pools still in use (heap, metaspace,
  * code cache) plus the NIO buffer pools. The heap is pinned with -Xms = -Xmx
  * and the collector uses all of it, so the resident set would only show
  * the pinned size; what survives a collection is what the program keeps.
  * `start` collects first, so garbage left by set-up does not count; `stop`
  * collects once more, so the window always has a sample.
  */
final class MemProbe {
  private val peak = new AtomicLong(0L)
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        sample(info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum)
      }
  }

  private def buffers: Long =
    ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
  private def sample(poolsUsed: Long): Unit = peak.accumulateAndGet(poolsUsed + buffers, (a, b) => math.max(a, b))

  def start(): Unit = {
    System.gc()
    peak.set(0L)
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  /** Stop sampling; the window's peak in MB. */
  def stopMb(): Double = {
    System.gc()
    emitters.foreach(_.removeNotificationListener(listener))
    // usage after the collection just made, read synchronously: heap pools
    // report it as collection usage, the other pools as plain usage
    sample(ManagementFactory.getMemoryPoolMXBeans.asScala.map { p =>
      Option(p.getCollectionUsage).filter(_ => p.getType == MemoryType.HEAP)
        .getOrElse(p.getUsage).getUsed
    }.sum)
    peak.get / 1048576.0
  }
}

/** Entry point of one benchmark process (launched by `run.py`):
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * --spans FILE [--golden FILE] [--toy 1]`. Writes its outcome as JSON to
  * `--out`; exits non-zero only when it could not measure at all.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val t0 = System.nanoTime()
    val spark = Session.start(args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val outcome =
      try args.workload match {
        case "crawl_wave" | "crawl_tail" => CrawlWorkload.run(spark, args, sessionS, tracer)
        case "ops_suite" => OpsWorkload.run(spark, args, sessionS, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    if (args.trace) {
      val all = tracer.all
      Files.write(Paths.get(args.spans),
        all.map(s => Tracer.toJson(s, Tracer.selfMs(s, all))).asJava)
    }
    Files.writeString(Paths.get(args.out), toJson(outcome))
  }

  def toJson(o: Outcome): String = {
    def ms(xs: Seq[Metric]) = xs.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
      .mkString("{", ",", "}")
    s"""{"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""failures":${o.failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":${ms(o.metrics)},"report":${ms(o.report)},""" +
      s""""facts":${o.facts.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
  }

  def goldenFor(args: Args): Option[Map[String, String]] =
    if (args.golden.isEmpty || !Files.exists(Paths.get(args.golden))) None
    else Golden.load(Files.readString(Paths.get(args.golden))).get((args.workload, args.seed))
}
