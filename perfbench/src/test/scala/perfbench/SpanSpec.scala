package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def s(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, "r", start, end)

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      s(0, -1, 0, 100),
      s(1, 0, 10, 30),
      s(2, 0, 20, 50),  // overlaps child 1: union 10..50
      s(3, 0, 60, 70),
      s(4, 0, 90, 120), // sticks out: only 90..100 counts
      s(5, 1, 12, 28))  // grandchild: counts against child 1 only
    val self = Span.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10 + 10))
    assert(self(1) == 20 - 16)
    assert(self(2) == 30)
    assert(self(4) == 30)
    assert(self(5) == 16)
  }

  test("a span without children keeps its whole duration; self times tile the root") {
    val spans = Seq(s(0, -1, 0, 50), s(1, 0, 0, 20), s(2, 0, 20, 50))
    val self = Span.selfTimes(spans)
    assert(self(0) == 0)
    assert(self.values.sum == 50)
  }

  test("disjoint children in any order") {
    val spans = Seq(s(0, -1, 0, 10), s(2, 0, 6, 8), s(1, 0, 1, 3))
    assert(Span.selfTimes(spans)(0) == 6)
  }
}
