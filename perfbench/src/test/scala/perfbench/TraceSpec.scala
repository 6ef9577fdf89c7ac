package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("coverage counts overlapping intervals once and clips to the span") {
    assert(Tracer.covered(0, 100, Nil) == 0)
    assert(Tracer.covered(0, 100, Seq((10L, 20L), (15L, 30L))) == 20)
    assert(Tracer.covered(0, 100, Seq((10L, 20L), (20L, 30L), (40L, 50L))) == 30)
    assert(Tracer.covered(0, 100, Seq((-50L, 10L), (90L, 150L))) == 20)
    assert(Tracer.covered(0, 100, Seq((10L, 60L), (20L, 30L))) == 50) // nested
    assert(Tracer.covered(0, 100, Seq((200L, 300L))) == 0)
  }

  test("self time subtracts the union of overlapping children") {
    val parent = Span(1, "pipeline.refresh", 0, 1000, 2000)
    // two concurrent jobs overlapping each other, and a child span
    val children = Seq((1100L, 1400L), (1300L, 1500L), (1700L, 1800L))
    assert(Tracer.selfTime(parent, children) == 1000 - 400 - 100)
    // a child that outlives its parent counts only inside the parent
    assert(Tracer.selfTime(parent, Seq((1900L, 2500L))) == 900)
    assert(Tracer.selfTime(parent, Nil) == 1000)
  }
}
