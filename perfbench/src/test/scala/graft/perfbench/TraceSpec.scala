package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, s"s$id", start, end, "t")

  test("union counts overlapping intervals once") {
    assert(Trace.union(Seq((10L, 30L), (20L, 50L), (60L, 70L))) == 50L)
    assert(Trace.union(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Trace.union(Seq((5L, 5L))) == 0L)
    assert(Trace.union(Nil) == 0L)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(s(0, -1, 0, 100), s(1, 0, 10, 30), s(2, 0, 20, 50),
      s(3, 0, 60, 70), s(4, 1, 12, 18))
    val self = Trace.selfTimesNs(spans)
    assert(self(0) == 50L) // [10,50) and [60,70) covered
    assert(self(1) == 14L)
    assert(self(4) == 6L)
    assert(self(3) == 10L)
  }

  test("child time outside the parent's interval is not subtracted") {
    val self = Trace.selfTimesNs(Seq(s(0, -1, 0, 100), s(1, 0, 90, 120)))
    assert(self(0) == 90L)
  }

  test("self times of a span tree add up to the root's wall time") {
    val tracer = new Tracer("t")
    tracer.span("root") {
      tracer.span("a")(Thread.sleep(2))
      tracer.span("b") { tracer.span("c")(Thread.sleep(1)); Thread.sleep(1) }
    }
    val spans = tracer.all
    val root = spans.find(_.name == "root").get
    assert(spans.find(_.name == "c").get.parent == spans.find(_.name == "b").get.id)
    assert(spans.find(_.name == "a").get.parent == root.id)
    assert(Trace.selfTimesNs(spans).values.sum == root.durationNs)
    assert(Trace.selfSecondsByName(spans).keySet == Set("root", "a", "b", "c"))
  }

  test("a span closes when its body throws") {
    val tracer = new Tracer("t")
    intercept[RuntimeException](tracer.span("x")(throw new RuntimeException))
    tracer.span("y")(())
    assert(tracer.all.map(s => s.name -> s.parent) == Seq("x" -> -1, "y" -> -1))
  }
}
