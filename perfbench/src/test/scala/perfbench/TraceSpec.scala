package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, "exec", s"s$id", parent, "r", start, end)

  test("self time is the duration minus what the children cover") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60),
      span(4, 2, 12, 20))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 20 - 10)
    assert(self(2) == 20 - 8)
    assert(self(3) == 10)
    assert(self(4) == 8)
  }

  test("overlapping children are counted once and clipped to the parent") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
      span(4, 1, 90, 120))
    assert(Tracer.selfTimes(spans)(1) == 100 - 40 - 10)
  }

  test("union length of intervals") {
    assert(Tracer.unionLength(Nil) == 0)
    assert(Tracer.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20)
  }

  test("a tracer that is off only runs the body") {
    val off = new Tracer(false, "run-0", null)
    assert(off.span("exec", "x")(41 + 1) == 42)
    assert(off.spans.isEmpty)
  }

  test("tail latency is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val (p50, tail, pct, beyond) = Main.latency(xs)
    assert(p50 == 20.5)
    assert(tail == 30.0 && pct == 75.0 && beyond == 10)
    assert(xs.count(_ > tail) == 10)
    val (_, small, smallPct, none) = Main.latency(Seq(3.0, 1.0, 2.0))
    assert(small == 3.0 && smallPct == 100.0 && none == 0)
  }

  test("task skew is the worst stage's max over median") {
    assert(Probe.taskSkew(Map(1 -> Seq(10L, 10L, 40L), 2 -> Seq(5L))) == 4.0)
    assert(Probe.taskSkew(Map.empty) == 1.0)
  }
}
