package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GoldenSpec extends AnyFunSuite {
  private val text =
    """# workload seed key value
      |crawl_tail 7 fetched 100
      |crawl_tail 7 errors 3
      |crawl_tail 7 seen_sha256 abc
      |crawl_tail 8 fetched 99
      |""".stripMargin

  test("the golden file parses per (workload, seed)") {
    val g = Golden.load(text)
    assert(g(("crawl_tail", 7L)) == Map("fetched" -> "100", "errors" -> "3", "seen_sha256" -> "abc"))
    assert(g(("crawl_tail", 8L)) == Map("fetched" -> "99"))
    assert(!g.contains(("crawl_wave", 7L)))
  }

  test("the golden check passes the pinned facts and rejects a perturbed count") {
    val pinned = Golden.load(text)(("crawl_tail", 7L))
    val actual = Map("fetched" -> "100", "errors" -> "3", "seen_sha256" -> "abc", "extra" -> "1")
    assert(Golden.check(pinned, actual).isEmpty)
    val perturbed = actual.updated("fetched", "101")
    assert(Golden.check(pinned, perturbed) == Seq("golden fetched: expected 100, got 101"))
    assert(Golden.check(pinned, actual - "errors").size == 1)
  }

  test("digests are order-sensitive and line-exact") {
    assert(Golden.sha256(Seq("a", "b")) != Golden.sha256(Seq("b", "a")))
    assert(Golden.sha256(Seq("ab")) != Golden.sha256(Seq("a", "b")))
  }
}
