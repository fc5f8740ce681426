package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's summary never hides a failure. */
class BenchSpec extends AnyFunSuite {

  test("a query that throws in a timed pass is listed and never lowers the total") {
    def pass(bad: => Unit) = Seq(
      "q_ok" -> Bench.timed(Thread.sleep(5)),
      "q_bad" -> Bench.timed(bad))
    val (_, cleanFailed, cleanTotal) = Bench.summarize(Seq(pass(()), pass(())), wallS = 0.05)
    val (seconds, failed, total) = Bench.summarize(
      Seq(pass(()), pass(throw new IllegalStateException("boom\nstack"))), wallS = 0.05)
    assert(cleanFailed.isEmpty)
    assert(failed == Map("q_bad" -> "boom"))
    assert(seconds.map(_._1) == Seq("q_ok", "q_bad"))
    // charged at least the timed passes' wall time
    assert(seconds.toMap.apply("q_bad") >= 0.05)
    assert(total >= cleanTotal && total == seconds.map(_._2).sum)
  }
}
