package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A traced interval around one call into a layer. Times are epoch
  * milliseconds (the clock Spark stamps task events with) plus a nanosecond
  * duration for the wall.
  */
final case class Span(
    id: Int,
    parent: Option[Int],
    name: String,
    startMs: Long,
    endMs: Long,
    wallNs: Long,
    counts: Map[String, Double])

/** In-memory span recorder; spans are written out once, at the end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Run `body` as span `name` (child of `parent`); `counts` derives the
    * span's counters from the body's result.
    */
  def span[T](name: String, parent: Option[Int] = None)(body: Int => T)(
      counts: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = synchronized { nextId += 1; nextId }
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body(id)
    val wall = System.nanoTime() - t0
    val s1 = System.currentTimeMillis()
    synchronized { spans += Span(id, parent, name, s0, math.max(s1, s0 + 1), wall, counts(r)) }
    r
  }

  /** Record a span measured elsewhere (e.g. a round bracketed by commits). */
  def record(name: String, parent: Option[Int], startMs: Long, endMs: Long,
             counts: Map[String, Double] = Map.empty): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, name, startMs, endMs, (endMs - startMs) * 1000000L, counts)
    nextId
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  /** Self time of `s`: its duration minus the part its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent.contains(s.id)).map(c => (c.startMs, c.endMs))
    (s.endMs - s.startMs) - Stats.unionLength(Stats.clip(kids, s.startMs, s.endMs))
  }

  def toJson(s: Span, self: Long): String = {
    val cs = s.counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent.map(_.toString).getOrElse("null")},""" +
      s""""name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""wall_ms":${Json.num(s.wallNs / 1e6)},"self_ms":$self,"counts":$cs}"""
  }
}

/** Per-task facts the listener keeps. */
final case class TaskFact(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuMs: Double, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Task, CPU, GC, shuffle and spill totals inside one time window. */
final case class WindowStats(jobs: Int, stages: Int, tasks: Int, taskBusyMs: Long,
    taskCpuMs: Double, gcMs: Long, shuffleMb: Double, spillMb: Double,
    /** wall of the window during which no task was running */
    noTaskMs: Long,
    /** max / median task run time of the window's busiest stage */
    taskSkew: Double)

/** The benchmark's own listener. Job-group properties do not reach the
  * crawl loop's Future threads, so work is attributed to spans by time
  * window: a task, stage or job belongs to the window its launch falls in.
  */
final class TaskListener extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskFact]()
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stageStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageStarts.add(t)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskFact(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def window(from: Long, to: Long): WindowStats = {
    val ts = tasks.asScala.filter(t => t.launchMs >= from && t.launchMs < to).toSeq
    val busiest = ts.groupBy(_.stageId).values.maxByOption(_.map(_.runMs).sum)
    val skew = busiest.map { st =>
      val med = Stats.median(st.map(_.runMs.toDouble))
      if (med <= 0) 1.0 else st.map(_.runMs).max / med
    }.getOrElse(0.0)
    val covered = Stats.unionLength(Stats.clip(ts.map(t => (t.launchMs, t.finishMs)), from, to))
    WindowStats(
      jobs = jobStarts.asScala.count(t => t >= from && t < to),
      stages = stageStarts.asScala.count(t => t >= from && t < to),
      tasks = ts.size,
      taskBusyMs = ts.map(_.runMs).sum,
      taskCpuMs = ts.map(_.cpuMs).sum,
      gcMs = ts.map(_.gcMs).sum,
      shuffleMb = ts.map(_.shuffleBytes).sum / 1048576.0,
      spillMb = ts.map(_.spillBytes).sum / 1048576.0,
      noTaskMs = (to - from) - covered,
      taskSkew = skew)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
