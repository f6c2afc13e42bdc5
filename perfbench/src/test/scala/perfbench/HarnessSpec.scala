package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail percentile: the highest one (up to p90) with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100) == Some(90)) // rank 90, ten samples above
    assert(Stats.tailPercentile(99) == Some(89)) // p90 would be rank 90, nine above
    assert(Stats.tailPercentile(1000) == Some(90)) // capped at p90
    assert(Stats.tailPercentile(30) == Some(66)) // rank 20; p67 is rank 21
    assert(Stats.tailPercentile(20) == Some(50))
    assert(Stats.tailPercentile(11) == Some(9))
    assert(Stats.tailPercentile(10) == None)
    for (n <- 11 to 400; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      if (p < 90) assert(Stats.beyond(n, p + 1) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("tail value: nearest-rank percentile, falling back to the median below 20 samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90)))
    assert(Stats.tail(xs.take(30)) == ((20.0, 66)))
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) == ((3.0, 50)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of child spans, overlapping or not") {
    // Parent [0, 100); children [10, 30) and [20, 50) overlap on [20, 30),
    // [60, 70) is separate, [90, 120) sticks out of the parent.
    val children = Seq((10L, 30L), (20L, 50L), (60L, 70L), (90L, 120L))
    assert(Intervals.unionLength(children) == 40 + 10 + 30)
    assert(Intervals.selfLength((0L, 100L), children) == 100 - (40 + 10 + 10))
    // Nested and identical children count once.
    assert(Intervals.selfLength((0L, 10L), Seq((2L, 8L), (3L, 4L), (2L, 8L))) == 4)
    assert(Intervals.selfLength((0L, 10L), Nil) == 10)
  }

  /** Fails on the iterations listed in `throwOn` (in run) and `badOn` (in check). */
  private final class Injected(throwOn: Set[Int], badOn: Set[Int]) extends Workload {
    val name = "injected"
    private var i = 0
    def generate(): Unit = ()
    def reference(): Unit = ()
    def reset(): Unit = ()
    def run(it: Iteration): Unit = {
      i += 1
      it.step("step")(Thread.sleep(1))
      if (throwOn(i)) throw new RuntimeException(s"boom $i")
    }
    def check(it: Iteration): Unit =
      if (badOn(i)) throw new IllegalStateException(s"wrong output $i")
    def attempts: Int = i
  }

  test("failure accounting: throwing and mis-checked iterations count as failed and add no timing") {
    val w = new Injected(throwOn = Set(1, 4), badOn = Set(2))
    val out = Harness.measure(w, seconds = 0.2, log = _ => ())
    assert(out.attempted == w.attempts && out.attempted >= 5)
    assert(out.failed == 3)
    assert(out.samples.size == out.attempted - 3)
    assert(out.samples.map(_.it.index).intersect(Seq(1, 2, 4)).isEmpty)
    assert(out.samples.forall(_.it.steps("step").size == 1))
    assert(out.errors.exists(_.contains("boom 1")) && out.errors.exists(_.contains("wrong output 2")))
    assert(out.failedFrac == 3.0 / out.attempted)
  }

  test("failure accounting: a run whose every iteration fails has no samples and reports incorrect") {
    val w = new Injected(throwOn = Set(1), badOn = Set.empty)
    val out = Harness.measure(w, seconds = 0.0, log = _ => ())
    assert(out.attempted == 1 && out.failed == 1 && out.samples.isEmpty)
    val r = Report("injected", traced = false, 1.0, Seq("session" -> 0.5), out)
    assert(!r.correct)
    assert(r.json.startsWith("""{"correct": false, "attempted": 1, "failed": 1, "metrics": {"""))
  }
}
