package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Failures are loud: an op that throws and an op whose output check
  * fails both count as failed, and neither leaves a latency sample. */
class LoopSpec extends AnyFunSuite {

  private def slowOk(id: String) = Op(id, _ => { Thread.sleep(20); 42 },
    out => if (out == 42) None else Some(s"got $out"))

  test("a throwing op and a wrong-output op both count as failures") {
    val ops = Seq(
      slowOk("ok1"),
      Op("throws", _ => throw new IllegalStateException("boom")),
      Op("wrong", _ => 41, out => if (out == 42) None else Some(s"got $out")),
      slowOk("ok2"))
    val s = Summary(Seq(Loop.runPass(ops, Untraced)))
    assert(s.attempted == 4)
    assert(s.failed == 2)
    assert(s.failedRatio == 0.5)
    val byId = s.results.map(r => r.id -> r).toMap
    assert(byId("throws").error.exists(_.contains("boom")))
    assert(byId("wrong").error.contains("got 41"))
    // the two failures returned at once; a latency sample built from them
    // would read far below the 20 ms the good ops take
    assert(s.p50Seconds >= 0.02)
    assert(s.opsPerSecond == 2 / s.wallSeconds)
  }

  test("a check that throws is a failure, not a crash") {
    val r = Loop.runOp(Op("bad-check", _ => 1, _ => sys.error("no output")),
      Untraced)
    assert(!r.ok && r.error.exists(_.contains("no output")))
  }

  test("warm-up runs its fixed passes and tells whether they levelled off") {
    val times = Iterator(200L, 100L, 97L)
    var passes = 0
    val warm = Loop.warmUp(_ => { passes += 1; val t = times.next()
      Seq(Op("p", _ => Thread.sleep(t))) }, Untraced)
    assert(warm.size == Loop.WarmUpPasses && passes == Loop.WarmUpPasses)
    assert(Loop.levelledOff(warm))
    assert(!Loop.levelledOff(warm.take(2)))
  }
}
