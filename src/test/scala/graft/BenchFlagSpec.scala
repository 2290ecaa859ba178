package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression gate for the bench's contention-flag logic ([[Bench.Level]]):
  * the flag exists so a grader can trust unflagged numbers, which means it
  * must fire on real interference and ONLY on real interference. Two field
  * incidents shaped it: (1) loadavg decay from the bench's own exited
  * children flagged clean levels (round 4), and (2) one steal-poisoned rep
  * inflated the rep-spread test and re-flagged a level whose best rep was
  * hypervisor-quiet (round 5: 189 s at 11.8% steal beside 15.0 s at 0.1%).
  * These tests pin the spread-over-clean-reps semantics. (The spin-probe
  * gate depends on the process-wide quiet minimum, which a unit test can't
  * set deterministically, so these cases exercise the steal gate.) */
class BenchFlagSpec extends AnyFunSuite {

  /** A level whose every rep carries all three probe entries; `loads`
    * defaults to no neighbors and each spin sample to a quiet 1 ms. */
  private def level(secs: Seq[Double], steal: Seq[Double],
      loads: Seq[Double] = Nil): Bench.Level =
    Bench.Level(events = 1000L, repSecs = secs,
      repLoads = if (loads.nonEmpty) loads else secs.map(_ => 0.0),
      repSteal = steal, repSpin = secs.map(_ => 1.0))

  test("steal-poisoned slow rep is excluded from the spread — level stays clean") {
    // the round-5 incident: 12.6x raw spread, fully explained by recorded steal
    val l = level(Seq(189.06, 14.96), steal = Seq(0.118, 0.001))
    assert(l.cleanRepSecs == Seq(14.96))
    assert(!l.contended)
  }

  test("wide spread across CLEAN reps still flags (unexplained variance)") {
    val l = level(Seq(100.0, 20.0), steal = Seq(0.0, 0.0))
    assert(l.contended)
  }

  test("no clean rep falls back to all-rep spread and best-rep steal flags") {
    val l = level(Seq(50.0, 52.0), steal = Seq(0.30, 0.28))
    assert(l.cleanRepSecs.isEmpty)
    // uniform spread passes, but the best rep itself ran under >25% steal
    assert(l.bestRepSteal > 0.25 && l.contended)
  }

  test("mild interference on the best rep does not flag (conservative direction)") {
    // 4% steal understates throughput; trusting it can only under-report
    val l = level(Seq(20.0, 21.0), steal = Seq(0.04, 0.0))
    assert(!l.contended)
  }

  test("neighbor-runnable load above 2 on the BEST rep flags regardless of spread") {
    val l = level(Seq(20.0, 20.5), steal = Seq(0.0, 0.0), loads = Seq(3.0, 0.0))
    assert(l.contended)
  }

  test("a neighbor burst on a slow non-best rep neither flags nor inflates the spread") {
    // same false-flag mode as the steal case: rep1 ran beside a same-guest
    // burst (load 3.0) and 4x slow; rep2 ran alone and fastest — the level
    // is trustworthy via its clean best rep
    val l = level(Seq(80.0, 20.0), steal = Seq(0.0, 0.0), loads = Seq(3.0, 0.0))
    assert(l.cleanRepSecs == Seq(20.0))
    assert(!l.contended)
  }

  test("a rep with missing probe data is not clean and cannot suppress the spread flag") {
    // the 20 s rep has no steal/load entry: padding it with 0.0 made it the
    // only "clean" rep, hiding the 4x spread and the best rep's unknown window
    val missing = Bench.Level(events = 1000L, repSecs = Seq(80.0, 20.0),
      repLoads = Seq(0.0), repSteal = Seq(0.30), repSpin = Seq(1.0, 1.0))
    assert(missing.cleanRepSecs.isEmpty)
    assert(missing.contended)
    // a spin entry of 0.0 means the sampler took no sample during the rep
    val unsampled = Bench.Level(events = 1000L, repSecs = Seq(80.0, 20.0),
      repLoads = Seq(0.0, 0.0), repSteal = Seq(0.30, 0.0), repSpin = Seq(1.0, 0.0))
    assert(unsampled.cleanRepSecs.isEmpty)
    assert(unsampled.contended)
  }

  test("best reported second always comes from the fastest rep") {
    val l = level(Seq(30.0, 10.0, 20.0), steal = Seq(0.0, 0.0, 0.0))
    assert(l.bestSec == 10.0)
  }
}
