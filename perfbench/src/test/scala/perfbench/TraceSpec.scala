package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(0, "root", -1, 0, 100),
      Span(1, "a", 0, 10, 30),
      Span(2, "a.child", 1, 12, 15),
      Span(3, "b", 0, 20, 50), // overlaps a: 10..50 counts once
      Span(4, "c", 0, 60, 70),
      Span(5, "late", 0, 95, 120)) // runs past the parent: 95..100 counts
    val self = Span.selfNanos(spans)
    assert(self(0) == 100 - 40 - 10 - 5)
    assert(self(1) == 20 - 3)
    assert(self(2) == 3)
    assert(self(3) == 30)
    assert(self(4) == 10)
    assert(self(5) == 25)
  }

  test("a span with no children is all self time") {
    assert(Span.selfNanos(Seq(Span(7, "leaf", -1, 5, 9))) == Map(7 -> 4L))
  }

  test("an execution touches a path only as a whole name") {
    val x = Execution(1, "FileScan parquet Location: [file:/w/out/silver/part] x", 0, 10, -1)
    assert(x.touches("/w/out/silver/part"))
    assert(!x.touches("/w/out/silver/par"))
    val y = Execution(2, "InsertIntoHadoopFsRelationCommand file:/w/out/silver/part_b, false", 0, 10, -1)
    assert(!y.touches("/w/out/silver/part"))
    assert(y.isWrite && !x.isWrite)
  }

  test("skew is the worst max/median task-time ratio over multi-task stages") {
    def t(stage: Int, ms: Long) = TaskCost(stage, 0, 0, ms, 0, 0, 0, 0, 0, failed = false)
    assert(Layers.skew(Seq(t(1, 10), t(1, 10), t(1, 40), t(2, 5), t(2, 5), t(3, 1000))) == 4.0)
    assert(Layers.skew(Seq(t(1, 3))) == 1.0)
  }

  test("median, and the tail value with at least ten samples beyond it") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains(1.0))
    assert(Stats.tail((1 to 30).map(_.toDouble)).contains(20.0))
  }
}
