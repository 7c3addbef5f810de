package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Option[Int], s: Long, e: Long) =
    Span(id, parent, s"s$id", s, e, (e - s) * 1000000L, Map.empty)

  test("self time is the span minus the union of its children, clipped to it") {
    val root = span(1, None, 0, 100)
    val all = Seq(root,
      span(2, Some(1), 10, 30),
      span(3, Some(1), 20, 40), // overlaps child 2: 10..40 counts once
      span(4, Some(1), 90, 120), // runs past the parent: only 90..100 counts
      span(5, Some(2), 12, 14), // a grandchild does not count against the root
      span(6, None, 0, 50)) // not a child
    assert(Tracer.selfMs(root, all) == 100 - 30 - 10)
    assert(Tracer.selfMs(all(1), all) == 20 - 2)
    assert(Tracer.selfMs(all(5), all) == 50)
  }

  test("recorded spans keep their parent and serialize as one JSON line") {
    val t = new Tracer
    val r = t.span("round") { id => t.span("layer", Some(id))(_ => 7)(n => Map("rows" -> n.toDouble)) }()
    assert(r == 7)
    val spans = t.all
    val layer = spans.find(_.name == "layer").get
    assert(layer.parent.contains(spans.find(_.name == "round").get.id))
    assert(layer.counts("rows") == 7.0)
    val json = Tracer.toJson(layer, Tracer.selfMs(layer, spans))
    assert(json.startsWith("{") && json.endsWith("}") && !json.contains("\n"))
    assert(json.contains("\"rows\":7"))
  }
}
