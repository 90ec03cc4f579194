package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench measurement protocol (graft.core.BenchHarness):
  * warmup excluded from the record, interleaved warm-min, wall guard,
  * and — the r16 additions (VERDICT r15 #2) — the end-of-suite retry
  * for guarded legs plus per-run evidence, so one contended rep can
  * never canonize a wall-guard artifact as the official value.
  */
class BenchHarnessSpec extends AnyFunSuite {

  // a leg that sleeps `slowMs` on the invocation numbers in `slowOn`
  // (1-based: 1 = warmup, 2 = first warm rep, ...) and `fastMs` otherwise
  private def leg(slowOn: Set[Int], slowMs: Long = 120, fastMs: Long = 2)
      : () => Unit = {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    () => Thread.sleep(if (slowOn(calls.incrementAndGet())) slowMs else fastMs)
  }

  test("stable legs: warmup excluded, min/median over exactly `reps` warm runs, nothing guarded") {
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("a" -> leg(Set.empty), "b" -> leg(Set.empty)))
    assert(h.guarded.isEmpty && h.retried.isEmpty)
    Seq("a", "b").foreach { n =>
      assert(h.repTimes(n).length == 3, s"$n must have 3 warm runs")
      assert(h.results(n) < 0.05 && h.medians(n) < 0.05)
      assert(h.warmups.contains(n))
    }
  }

  test("a leg guarded mid-pass is retried once at end of suite; official value = min over ALL runs") {
    // slow on invocation 3 = second warm rep: warm rep 1 fast, rep 2
    // trips the guard, passes 3.. skipped, retry at end fast
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("burst" -> leg(Set(3)), "calm" -> leg(Set.empty)))
    assert(h.guarded.toSeq == Seq("burst") && h.retried.toSeq == Seq("burst"))
    // runs observed: fast rep, slow rep, retry — never the skipped passes
    assert(h.repTimes("burst").length == 3, h.repTimes("burst").toString)
    assert(h.repTimes("burst").count(_ > 0.05) == 1)
    // the official value is the fast min, NOT the 120ms artifact
    assert(h.results("burst") < 0.05,
      s"guard artifact canonized: ${h.results("burst")}")
    assert(h.repTimes("calm").length == 3)
  }

  test("a leg guarded AT WARMUP skips all passes, and the retry rescues its official value") {
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("coldslow" -> leg(Set(1))))
    assert(h.guarded.toSeq == Seq("coldslow") && h.retried.toSeq == Seq("coldslow"))
    // runs: the guard-tripping warmup + the retry
    assert(h.repTimes("coldslow").length == 2)
    assert(h.results("coldslow") < 0.05,
      s"retry must rescue a warmup-guarded leg: ${h.results("coldslow")}")
    // a leg slow on BOTH warmup and retry keeps the honest slow value
    val h2 = new graft.core.BenchHarness(reps = 2, wallLimit = 0.05)
    h2.run(Seq("trulyslow" -> leg(Set(1, 2))))
    assert(h2.guarded.toSeq == Seq("trulyslow"))
    assert(h2.results("trulyslow") > 0.05,
      "a genuinely slow leg must not be laundered by the retry")
  }

  test("an unstable-but-unguarded leg gets ONE stabilization run; a transient burst clears the flag") {
    // slow on warm rep 1 only (invocation 2), far under the wall limit:
    // after 2 reps the median > 2x min (two-sample coin flip) — the
    // stabilization run adds a third fast observation and the flag
    // clears honestly. fast ~120ms keeps min >= 0.1 so the leg
    // QUALIFIES for the flag at all (tiny legs are exempt).
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 10.0)
    h.run(Seq("wobble" -> leg(Set(2), slowMs = 700, fastMs = 120)))
    assert(h.guarded.isEmpty && h.retried.isEmpty)
    assert(h.stabilized.toSeq == Seq("wobble"), h.stabilized.toString)
    assert(h.repTimes("wobble").length == 3, h.repTimes("wobble").toString)
    // runs [700, 120, 120]: median 120 <= 2x min — flag cleared
    assert(h.unstableLegs.isEmpty,
      s"flag must clear after stabilization: runs=${h.repTimes("wobble")}")
    // a leg whose stabilization run comes back slow AGAIN keeps the
    // flag (confirmed intermittency), evidence now holds three runs
    val h2 = new graft.core.BenchHarness(reps = 2, wallLimit = 10.0)
    h2.run(Seq("steadyslow" -> leg(Set(2, 4), slowMs = 700, fastMs = 120)))
    assert(h2.stabilized.toSeq == Seq("steadyslow"))
    assert(h2.unstableLegs == Seq("steadyslow"),
      s"confirmed spread must keep the flag: runs=${h2.repTimes("steadyslow")}")
  }

  test("a stabilization run that blows the wall limit marks the leg guarded — no unguarded budget escape") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    // warm runs [120, 450] (unstable at median 285 > 2x120, under the
    // 1s wall); the stabilization run itself takes 1.2s — over the wall
    val fn: () => Unit = () => Thread.sleep(calls.incrementAndGet() match {
      case 3 => 450L
      case 4 => 1200L
      case _ => 120L
    })
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 1.0)
    h.run(Seq("esc" -> fn))
    assert(h.stabilized.toSeq == Seq("esc"))
    assert(h.guarded.toSeq == Seq("esc"),
      "an over-limit stabilization run must surface in wall_guarded")
    assert(h.results("esc") < 0.2) // official min stays the honest fast run
  }

  test("a leg that throws on one rep is failed: no official value, the suite runs on") {
    // throws fast on the first warm rep, sleeps slow on every other run —
    // the time-to-exception would be the min, a fake fast time
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val throwing: () => Unit = () =>
      if (calls.incrementAndGet() == 2) throw new IllegalStateException("boom")
      else Thread.sleep(120)
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 1.0)
    h.run(Seq(
      "ctl" -> h.failSafe("ctl", logged += _)(throwing),
      "calm" -> h.failSafe("calm", logged += _)(leg(Set.empty))))
    assert(h.failed.toSeq == Seq("ctl"))
    assert(logged.size == 1 && logged.head.contains("ctl") && logged.head.contains("boom"),
      logged.toString)
    // the harness did time the throwing rep — the raw min IS the fake
    // fast number, which `official` must never publish
    assert(h.results("ctl") < 0.1, h.repTimes("ctl").toString)
    assert(h.official("ctl").isEmpty)
    assert(!h.unstableLegs.contains("ctl"))
    // the other leg and the later passes are untouched
    assert(h.repTimes("ctl").length == 3 && h.repTimes("calm").length == 3)
    assert(h.official("calm").exists(_ < 0.1))
  }

  test("detailJson carries warmup + every observed run for the asked legs") {
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 0.05)
    h.run(Seq("x" -> leg(Set(2)), "y" -> leg(Set.empty)))
    val d = h.detailJson(Seq("x", "x", "zzz_never_ran"))
    assert(d.startsWith("{\"x\":{\"warmup\":"), d)
    assert(d.contains("\"runs\":["), d)
    // duplicate names collapse; unknown legs are omitted, not fabricated
    assert(d.indexOf("\"x\"") == d.lastIndexOf("\"x\"") && !d.contains("zzz"), d)
    // the evidence must show the guard-tripping run AND the fast retry
    val runs = d.substring(d.indexOf("\"runs\":[") + 8, d.indexOf("]"))
      .split(",").map(_.toDouble)
    assert(runs.count(_ > 0.05) == 1 && runs.count(_ <= 0.05) >= 1, d)
  }
}
