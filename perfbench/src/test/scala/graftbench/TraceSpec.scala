package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, name: String, s: Long, e: Long) =
    Span(id, parent, 0, name, s, e)

  test("union of intervals counts overlaps once and skips empty ones") {
    assert(Tracer.unionNs(Nil) == 0)
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Tracer.unionNs(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20)
    assert(Tracer.unionNs(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Tracer.unionNs(Seq((0L, 10L), (10L, 20L))) == 20)
  }

  test("self time is duration minus the children's covered interval") {
    val spans = Seq(
      span(0, -1, "op.x", 0, 100),
      span(1, 0, "read.plan", 10, 30),
      span(2, 0, "read.exec", 30, 80),
      span(3, 2, "format.load", 40, 50))
    val self = Tracer.selfNs(spans)
    assert(self == Map(0 -> 30L, 1 -> 20L, 2 -> 40L, 3 -> 10L))
    assert(self.values.sum == 100)
  }

  test("children overlapping each other or outside the parent count once, " +
      "clipped to the parent") {
    val spans = Seq(
      span(0, -1, "op.x", 100, 200),
      span(1, 0, "write.a", 90, 150),
      span(2, 0, "write.b", 140, 160))
    assert(Tracer.selfNs(spans)(0) == 40)
  }

  test("layer self seconds sum self times by the name's first segment") {
    val spans = Seq(
      span(0, -1, "op.x", 0, 3000000000L),
      span(1, 0, "read.plan", 0, 1000000000L),
      span(2, 0, "read.exec", 1000000000L, 2500000000L))
    val bySelf = Tracer.layerSelfSeconds(spans)
    assert(bySelf("op") == 0.5)
    assert(bySelf("read") == 2.5)
  }

  test("the tracer records nesting, operation ids, and nothing when off") {
    val t = new Tracer
    t.span("op.off")(())
    t.enabled = true
    t.beginOp(7)
    t.span("op.a") {
      t.span("read.plan")(())
      t.span("read.exec")(t.span("format.load")(()))
    }
    t.endOp()
    t.span("format.load")(())
    val byName = t.recorded.map(s => s.name -> s).toMap
    assert(t.recorded.map(_.name) ==
      Seq("op.a", "read.plan", "read.exec", "format.load", "format.load"))
    assert(byName("read.plan").parent == 0 && byName("read.exec").parent == 0)
    assert(t.recorded(3).parent == 2)
    assert(t.recorded.take(4).forall(_.op == 7))
    assert(t.recorded(4).op == -1 && t.recorded(4).parent == -1)
    assert(t.recorded.forall(s => s.endNs >= s.startNs))
  }
}
