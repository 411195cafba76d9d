package lakebench

import scala.util.Random

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own statistics and accounting: tail selection, failure
  * counting, round times and fixed per-run operation counts.
  */
class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int): Seq[Double] = Random.shuffle((1 to n).map(_.toDouble))

  test("p99 is kept when at least ten samples lie beyond it") {
    val t = Stats.tail(ramp(1000), 0.99).get
    assert(t.percentile == 0.99 && t.value == 990.0 && t.beyond == 10 && t.samples == 1000)
  }

  test("with fewer samples the tail falls back to the highest percentile with ten beyond") {
    val t = Stats.tail(ramp(500), 0.99).get
    assert(t.value == 490.0 && t.beyond == 10)
    assert(math.abs(t.percentile - 0.98) < 1e-12)
    val small = Stats.tail(ramp(30), 0.99).get
    assert(small.value == 20.0 && small.beyond == 10)
    assert(t.describe.contains("500 samples (10 beyond)"))
  }

  test("no tail is reported when it would not lie above the median") {
    assert(Stats.tail(ramp(20), 0.99).isEmpty)
    assert(Stats.tail(Nil, 0.99).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("failed, refused and wrong operations count as attempted and failed, never as samples") {
    val log = new OpLog("q")
    log.timed(1)(_ => None)
    log.timed[Int](throw new RuntimeException("refused"))(_ => None)
    log.timed(2)(_ => Some("wrong answer"))
    log.timed(3)(_ => throw new IllegalStateException("check broke"))
    assert(log.attempted == 4 && log.failed == 3 && log.latencies.length == 1)
    assert(log.errors.exists(_.contains("refused")) && log.errors.exists(_.contains("wrong answer")))
    assert(OpLog.failed(Seq(log, new OpLog("empty"))) == 3)
  }

  test("the answer check runs after the clock stops") {
    val log = new OpLog("q")
    log.timed(1) { _ => Thread.sleep(200); None }
    assert(log.latencies.head < 150.0)
  }

  test("a run's operation count and class mix are the same for every seed") {
    val mixes = (1 to 5).map { seed =>
      val rounds = ServeRead.generate(new Random(seed), 4)
      assert(rounds.length == 4 && rounds.forall(_.length == ServeRead.Round.map(_._2).sum))
      rounds.map(_.map(_._1))
    }
    assert(mixes.distinct.length == 1, "every round issues the same classes in the same order")
    val params = (1 to 5).map(seed => ServeRead.generate(new Random(seed), 4).flatten.map(_._2))
    assert(params.distinct.length == 5, "the seed must vary the parameters")
    assert(ServeRead.generate(new Random(7), 4) == ServeRead.generate(new Random(7), 4))
  }

  test("a round's time is the sum of its operations; a round with a failure adds no sample") {
    val rl = new RoundLog
    val log = new OpLog("q")
    rl.op(log) { Thread.sleep(20); 1 }(_ => None)
    rl.op(log) { Thread.sleep(20); 2 }(_ => None)
    rl.endRound()
    rl.op(log)(3)(_ => None)
    rl.op(log)(4)(_ => Some("wrong answer"))
    rl.endRound()
    assert(rl.roundMs.length == 1 && rl.roundMs.head >= 40.0)
    assert(math.abs(rl.roundMs.head - log.latencies.take(2).sum) < 1e-9)
    assert(log.attempted == 4 && log.failed == 1)
  }

  test("answers compare in any order, doubles within a relative tolerance") {
    val want = Answers.canon(Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 1.0)))
    assert(Answers.diff(Seq(Row(2L, "b", 1.0), Row(1L, "a", 0.3)), want).isEmpty)
    assert(Answers.diff(Seq(Row(2L, "b", 1.0), Row(1L, "a", 0.31)), want).nonEmpty)
    assert(Answers.diff(Seq(Row(2L, "b", 1.0)), want).nonEmpty)
    assert(Answers.fingerprint(Iterator(Row(1L, 2.0), Row(3L, 4.0))) ==
      Answers.fingerprint(Iterator(Row(3L, 4.0), Row(1L, 2.0))))
  }
}
