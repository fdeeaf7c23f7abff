package perfbench

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

class InstrumentsSpec extends AnyFunSuite {
  test("the recording clock ticks deterministically and records real durations") {
    val c = new RecordingClock(Instant.parse("2026-01-05T02:00:00Z"), 60000L)
    assert(c.now() === Instant.parse("2026-01-05T02:00:00Z"))
    assert(c.now() === Instant.parse("2026-01-05T02:01:00Z"))
    // observe() reads the wall clock and does not advance the ticks
    c.observe()
    assert(c.now() === Instant.parse("2026-01-05T02:02:00Z"))
    val t0 = System.nanoTime()
    Thread.sleep(30)
    // the scheduler sees the fixed tick, the recording keeps the real time
    assert(c.elapsedMs(t0) === 60000L)
    assert(c.recordedMs.size === 1)
    assert(c.recordedMs.head >= 30.0 && c.recordedMs.head < 5000.0)
    assert(c.recorded.head._1 === t0)
  }

  test("quantiles interpolate, and a tail quantile reports the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) === 50.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) === 2.5)
    assert(Stats.quantile(Seq(7.0), 0.9) === 7.0)
    val (p90, beyond) = Stats.tail(xs, 0.9)
    assert(math.abs(p90 - 90.1) < 1e-9)
    assert(beyond === 10)
    assert(Stats.tail((1 to 20).map(_.toDouble), 0.9)._2 === 2)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("self time is the parent's length minus the union of its children") {
    val parent = Span("pass", 0L, 100L)
    // overlapping children count once; a child past the parent is clipped
    val kids = Seq(Span("a", 10L, 30L), Span("b", 20L, 40L),
      Span("c", 60L, 70L), Span("d", 90L, 150L))
    assert(Stats.unionNs(kids.map(k => (k.startNs, k.endNs)), 0L, 100L) === 50L)
    assert(Stats.selfNs(parent, kids) === 50L)
    assert(Stats.selfNs(parent, Nil) === 100L)
    // nested and identical children
    assert(Stats.selfNs(parent, Seq(Span("x", 0L, 100L), Span("y", 5L, 6L))) === 0L)
    assert(Stats.unionNs(Seq((5L, 5L), (7L, 3L)), 0L, 100L) === 0L)
  }

  test("the span log keeps spans in memory with their parent and run") {
    val log = new SpanLog("r1")
    val v = log.time("outer")(log.time("inner", parent = "outer")(42))
    assert(v === 42)
    assert(log.spans.map(_.name) === Seq("inner", "outer"))
    assert(log.named("inner").head.parent === "outer")
    assert(log.spans.forall(_.run == "r1"))
    assert(log.totalMs("outer") >= log.totalMs("inner"))
  }

  test("the run record is valid JSON with full-precision numbers") {
    val s = Json.obj("a" -> 1.0 / 3, "b" -> Seq(1, 2), "c" -> Map("x" -> "q\""),
      "d" -> Double.NaN)
    assert(s === """{"a":0.3333333333333333,"b":[1,2],"c":{"x":"q\""},"d":null}""")
  }
}
