package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, 1L, s"s$id", start, end)

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 30),
      span(3, 1, 20, 50), // overlaps 2: [10, 50) counted once
      span(4, 1, 70, 80),
      span(5, 2, 12, 18)) // a grandchild does not reduce the root again
    val self = Trace.selfNanos(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(5) == 6)
  }

  test("children reaching outside their parent count only inside it") {
    val spans = Seq(span(1, 0, 10, 20), span(2, 1, 5, 15), span(3, 1, 18, 40))
    assert(Trace.selfNanos(spans)(1) == 10 - 5 - 2)
  }

  test("a span with no children keeps its whole duration") {
    assert(Trace.selfNanos(Seq(span(7, 0, 3, 9))) == Map(7 -> 6L))
  }
}
