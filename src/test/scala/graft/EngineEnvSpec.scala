package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine reads no environment: every setting that changes what a crawl
  * or a query does arrives through its arguments (CrawlConfig, the session).
  * The engine is every package below `graft` (crawl, filterset, sched, url,
  * robots, extract, ops, functions, model, ref, fixtures, sources,
  * streaming); environment reads belong to the mains in `graft` itself.
  */
class EngineEnvSpec extends AnyFunSuite {
  private val envReads = Seq("sys.env", "sys.props", "System.getenv", "System.getProperty")

  test("engine packages read no environment variable or system property") {
    val root = Paths.get("src/main/scala/graft")
    val files = Files.list(root).iterator().asScala.filter(Files.isDirectory(_))
      .flatMap(pkg => Files.walk(pkg).iterator().asScala)
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("crawl/CrawlRound.scala")), s"no engine sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envReads.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
