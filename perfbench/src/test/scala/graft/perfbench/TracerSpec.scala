package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, depth: Int, start: Double, end: Double): Span = {
    val s = new Span(id, parent, depth, s"s$id", 0, start)
    s.endMs = end
    s
  }

  test("covered length merges overlapping intervals") {
    assert(Tracer.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Tracer.covered(Seq((3.0, 4.0), (0.0, 10.0))) == 10.0)
    assert(Tracer.covered(Nil) == 0.0)
  }

  test("self time is duration minus the part children cover") {
    val root = span(0, -1, 0, 0, 100)
    val a = span(1, 0, 1, 10, 40)
    val b = span(2, 0, 1, 30, 50)   // overlaps a by 10
    val c = span(3, 0, 1, 90, 120)  // runs past the parent's end
    assert(Tracer.selfMs(root, Seq(a, b, c)) == 100 - 40 - 10)
    assert(Tracer.selfMs(a, Nil) == 30)
  }

  test("an event belongs to the deepest span open at its time") {
    val root = span(0, -1, 0, 0, 100)
    val a = span(1, 0, 1, 10, 40)
    val b = span(2, 0, 1, 50, 60)
    val spans = Seq(root, a, b)
    assert(Tracer.owner(spans, 20).contains(a))
    assert(Tracer.owner(spans, 55).contains(b))
    assert(Tracer.owner(spans, 45).contains(root))
    assert(Tracer.owner(spans, 500).isEmpty)
  }

  test("spans nest by call structure and share the request id") {
    val t = new Tracer
    t.newRequest()
    t.span("outer") { t.span("inner")(()) }
    t.newRequest()
    t.span("next")(())
    val Seq(outer, inner, next) = t.spans.toSeq
    assert(inner.parent == outer.id && inner.depth == 1)
    assert(outer.request == inner.request && next.request == outer.request + 1)
    assert(t.spans.filter(_.parent == outer.id) == Seq(inner))
    assert(outer.startMs <= inner.startMs && inner.endMs <= outer.endMs)
  }
}
