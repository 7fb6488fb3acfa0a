package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(1, -1, "round", 0, 100),
      Span(2, 1, "capture", 10, 30),
      Span(3, 1, "diff", 20, 50), // overlaps its sibling
      Span(4, 3, "inner", 25, 45), // a grandchild: not subtracted from the round
      Span(5, 1, "late", 90, 130)) // runs past its parent: clipped
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20)
    assert(self(3) == 30 - 20)
    assert(self(4) == 20)
    assert(self(5) == 40)
  }

  test("spans nest under the innermost open span of their thread") {
    val t = new Tracer(enabled = true)
    val v = t.span("outer") {
      t.span("a")(())
      t.span("b")(t.span("c")(42))
    }
    assert(v == 42)
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("outer").parent == -1)
    assert(byName("a").parent == byName("outer").id)
    assert(byName("b").parent == byName("outer").id)
    assert(byName("c").parent == byName("b").id)
    assert(t.spans.forall(s => s.endNs >= s.startNs))
  }

  test("a span ends even when its body throws") {
    val t = new Tracer(enabled = true)
    intercept[IllegalStateException](t.span("boom")(throw new IllegalStateException("x")))
    t.span("after")(())
    assert(t.spans.map(_.name) == Seq("boom", "after"))
    assert(t.spans.forall(_.parent == -1))
  }

  test("a disabled tracer only runs the body") {
    val t = new Tracer(enabled = false)
    assert(t.span("x")(7) == 7)
    t.add("cycle", 0, 10)
    assert(t.spans.isEmpty)
  }

  test("parentless spans nest under the trigger that contains them") {
    val sink = Span(1, -1, "sink.apply", 1500000, 2500000)
    val other = Span(2, -1, "setup", 4000000, 4500000)
    val cycles = Seq(Span(3, -1, "cycle", 0, 5000000), Span(4, -1, "cycle", 1000000, 2000000))
    // millisecond-rounded trigger bounds: the sink call ends 0.5 ms after the inner one
    val nested = Trace.nestUnder(Seq(sink, other) ++ cycles, cycles, slackNs = 1000000)
    assert(nested.find(_.id == 1).get.parent == 4)
    assert(nested.find(_.id == 2).get.parent == 3)
    assert(Trace.nestUnder(Seq(sink), cycles.drop(1)).head.parent == -1) // no slack: not contained
  }

  test("a capture round splits at the end of each phase's last job") {
    def job(id: Int, end: Long, site: String) = Counters.Job(id, end - 5, end, id, site)
    val jobs = Seq(
      job(1, 20, "parquet at SnapshotCapture.scala:62\ngraft.streaming.SnapshotCapture$.capture(SnapshotCapture.scala:62)"),
      job(2, 35, "graft.operators.SnapshotDiff$.x(SnapshotDiff.scala:1)\ngraft.streaming.SnapshotCapture$.capture(SnapshotCapture.scala:70)"),
      job(3, 50, "graft.streaming.SnapshotCapture$.captureAndApply(SnapshotCapture.scala:90)"),
      job(4, 80, "graft.streaming.JdbcApply$.$anonfun$apply$1(JdbcApply.scala:77)\n" +
        "graft.streaming.SnapshotCapture$.captureAndApply(SnapshotCapture.scala:91)"),
      job(5, 60, "java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)"))
    assert(SnapshotRounds.splitRound(0, 100, jobs) == Seq(
      ("capture.capture", 0L, 35L), ("operator.diff", 35L, 50L),
      ("sink.apply", 50L, 80L), ("capture.commit", 80L, 100L)))
    // a phase without jobs is empty, and no phase runs past the round
    assert(SnapshotRounds.splitRound(0, 70, jobs.filterNot(_.id == 3)) == Seq(
      ("capture.capture", 0L, 35L), ("operator.diff", 35L, 35L),
      ("sink.apply", 35L, 70L), ("capture.commit", 70L, 70L)))
  }
}
