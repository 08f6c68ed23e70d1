package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, s: Long, e: Long, parent: Int) = Span(id, s"s$id", s, e, parent, "r")

  test("self time is the span minus what its direct children cover") {
    val spans = Seq(
      span(1, 0, 100, -1),
      span(2, 10, 30, 1),
      span(3, 20, 50, 1),   // overlaps span 2: [10, 50) counts once
      span(4, 80, 120, 1),  // runs past its parent: only [80, 100) counts
      span(5, 12, 28, 2))   // a grandchild does not reduce span 1
    val self = Spans.selfUs(spans)
    assert(self(1) == 100 - 40 - 20)
    assert(self(2) == 20 - 16)
    assert(self(3) == 30)
    assert(self(4) == 40)
    assert(self(5) == 16)
  }

  test("nested spans record their parents; a disabled tracer records nothing") {
    val clock = new Clock
    val t = new Tracer("run1", enabled = true, clock)
    t.span("outer") {
      t.span("inner")(())
      val parent = t.currentId
      val th = new Thread(() => t.within(parent)(t.span("other-thread")(())))
      th.start(); th.join()
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("other-thread").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(t.all.forall(s => s.run == "run1" && s.endUs >= s.startUs))
    assert(t.innermost(byName("inner").startUs, byName("inner").endUs) == byName("inner").id)

    val off = new Tracer("run2", enabled = false, clock)
    assert(off.span("x")(41 + 1) == 42)
    assert(off.all.isEmpty)
  }

  test("spans are written out with their self time") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench_trace")
    try {
      val t = new Tracer("r", enabled = true, new Clock)
      t.span("a")(t.span("b")(()))
      val out = dir.resolve("t.jsonl")
      t.write(out)
      val lines = java.nio.file.Files.readAllLines(out)
      assert(lines.size == 2)
      assert(lines.get(0).contains("\"name\":\"a\"") && lines.get(0).contains("\"self_us\":"))
    } finally Bench.deleteTree(dir)
  }
}
