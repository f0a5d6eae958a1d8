package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, s: Long, e: Long) = Span(id, parent, s"s$id", "main", s, e)

  test("union length merges overlapping and touching intervals and skips empty ones") {
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 31L))) == 21L)
    assert(Trace.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
    assert(Trace.unionLength(Nil) == 0L)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40), // overlaps the next child on [30, 40]
      span(3, 1, 30, 60),
      span(4, 1, 90, 120), // runs past the parent's end
      span(5, 3, 35, 45)) // grandchild: covered by child 3, not by 1 directly
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30)
    assert(self(3) == 30 - 10)
    assert(self(4) == 30)
    assert(self(5) == 10)
  }

  test("spans are recorded only while tracing is on, with their parent") {
    Trace.reset()
    Trace.span("off")(())
    assert(Trace.spans.isEmpty)
    Trace.enable()
    try {
      Trace.span("outer")(Trace.span("inner")(()))
      val byName = Trace.spans.map(s => s.name -> s).toMap
      assert(byName("inner").parent == byName("outer").id)
      assert(byName("outer").parent == 0L)
    } finally Trace.reset()
  }
}
