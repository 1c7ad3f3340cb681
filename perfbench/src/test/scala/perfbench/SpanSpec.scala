package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def sp(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 1, start, end)

  test("self time is duration minus the union of direct children") {
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 30), sp(2, 0, 50, 60),
      sp(3, 1, 12, 28)) // grandchild: covered by its parent, not counted twice
    val self = Span.selfTimes(spans)
    assert(self(0) == 70)
    assert(self(1) == 4)
    assert(self(2) == 10)
    assert(self(3) == 16)
  }

  test("overlapping children count once and are clipped to the parent") {
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 30, 50),
      sp(3, 0, 90, 120), sp(4, 0, -5, 5))
    assert(Span.selfTimes(spans)(0) == 100 - 40 - 10 - 5)
  }

  test("a span without children keeps its whole duration") {
    assert(Span.selfTimes(Seq(sp(7, -1, 3, 9)))(7) == 6)
  }
}
