package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression gate for the bench's contention flags ([[Bench.contended]]):
  * the flag exists so a grader can trust unflagged numbers, which means it
  * must fire on real interference and ONLY on real interference. The flag is
  * a pure function of the recorded reps and the session's quiet spin time,
  * so every recorded incident is pinned here with its own numbers (rounds
  * r01-r05 of the official bench artifact, BENCH_r0*.json). */
class BenchFlagSpec extends AnyFunSuite {

  /** Quiet spin time of the session; [[level]]'s reps spin at exactly it. */
  private val Quiet = 1.0

  /** A level whose every rep carries both probe entries: `steal` defaults
    * to none and each spin sample to the quiet time. */
  private def level(secs: Double*): Bench.Level =
    Bench.Level(events = 1000L, repSecs = secs, repSteal = secs.map(_ => 0.0),
      repSpin = secs.map(_ => Quiet))

  private def withSteal(secs: Seq[Double], steal: Seq[Double]): Bench.Level =
    level(secs: _*).copy(repSteal = steal)

  /** Flagged core counts of one mode. */
  private def flagged(mode: String, quiet: Double,
      levels: ((String, Int), Bench.Level)*): Set[Int] =
    Bench.contended(levels.toMap, quiet).keySet.collect { case (`mode`, c) => c }

  private def enrichedFlags(levels: (Int, Bench.Level)*): Set[Int] =
    flagged("enriched", Quiet, levels.map { case (c, l) => ("enriched", c) -> l }: _*)

  test("steal-poisoned slow rep is excluded from the spread — level stays clean") {
    // 189.06 s at 11.8% steal beside 14.96 s at 0.1%: a 12.6x raw spread,
    // fully explained by the recorded steal
    val l = withSteal(Seq(189.06, 14.96), steal = Seq(0.118, 0.001))
    assert(l.cleanRepSecs(Quiet) == Seq(14.96))
    assert(l.repFlag(Quiet).isEmpty)
    assert(enrichedFlags(32 -> l).isEmpty)
  }

  test("wide spread across CLEAN reps still flags (unexplained variance)") {
    assert(level(100.0, 20.0).repFlag(Quiet).exists(_.startsWith("rep spread 5.0x")))
    // a 4x slow non-best rep whose probes read quiet: nothing recorded
    // explains it, so the level flags
    val l = level(80.0, 20.0)
    assert(l.cleanRepSecs(Quiet) == Seq(80.0, 20.0))
    assert(l.repFlag(Quiet).exists(_.startsWith("rep spread 4.0x")))
  }

  test("no clean rep falls back to all-rep spread and best-rep steal flags") {
    val l = withSteal(Seq(50.0, 52.0), steal = Seq(0.30, 0.28))
    assert(l.cleanRepSecs(Quiet).isEmpty)
    // uniform spread passes, but the best rep itself ran under >25% steal
    assert(l.repFlag(Quiet).contains("best-rep steal 30.0%"))
  }

  test("mild interference on the best rep does not flag (conservative direction)") {
    // 4% steal understates throughput; trusting it can only under-report
    val l = withSteal(Seq(20.0, 21.0), steal = Seq(0.04, 0.0))
    assert(l.repFlag(Quiet).isEmpty)
  }

  test("a rep with missing probe data is not clean and cannot suppress the spread flag") {
    // the 20 s rep has no steal entry: padding it with 0.0 made it the only
    // "clean" rep, hiding the 4x spread and the best rep's unknown window
    val missing = Bench.Level(events = 1000L, repSecs = Seq(80.0, 20.0),
      repSteal = Seq(0.30), repSpin = Seq(1.0, 1.0))
    assert(missing.cleanRepSecs(Quiet).isEmpty)
    assert(missing.repFlag(Quiet).nonEmpty)
    // a spin entry of 0.0 means the sampler took no sample during the rep
    val unsampled = Bench.Level(events = 1000L, repSecs = Seq(80.0, 20.0),
      repSteal = Seq(0.30, 0.0), repSpin = Seq(1.0, 0.0))
    assert(unsampled.cleanRepSecs(Quiet).isEmpty)
    assert(unsampled.repFlag(Quiet).nonEmpty)
  }

  test("best reported second always comes from the fastest rep") {
    val l = level(30.0, 10.0, 20.0)
    assert(l.bestSec == 10.0)
  }

  test("r05: a local[32] no faster than local[8] is flagged, though its own reps are clean") {
    // 55.93 / 120.81 s at ~0 steal: a 2.16x spread passed the rep checks;
    // local[8] took 15.60 s (21,001,105 events at 1,346,400 ev/s)
    val wide = level(55.93, 120.81)
    assert(wide.repFlag(Quiet).isEmpty)
    assert(enrichedFlags(1 -> level(94.87), 4 -> level(26.33), 8 -> level(15.60),
      32 -> wide) == Set(32))
  }

  test("r01: a superlinear local[1] and the no-faster local[8] and local[32] are flagged") {
    // local[1] 189.95 s vs local[4] 39.00 s is a 4.87x speedup on 4x the
    // cores (eff 1.218): the narrow level was slowed
    val flags = Bench.contended(Map(("enriched", 1) -> level(189.95),
      ("enriched", 4) -> level(39.00), ("enriched", 8) -> level(129.69),
      ("enriched", 32) -> level(313.18)), Quiet)
    assert(flags.keySet.map(_._2) == Set(1, 8, 32))
    assert(flags(("enriched", 1)).contains("superlinear speedup to local[4]"))
    assert(flags(("enriched", 8)).contains("no faster than local[4]"))
  }

  test("r04: the enriched matrix flags local[32] only; the criterion pair stays clean") {
    val flags = enrichedFlags(1 -> level(80.72, 81.04, 85.72, 81.61),
      4 -> level(24.59, 23.34, 23.44, 23.11), 8 -> level(19.93, 14.88),
      32 -> level(19.31, 15.30))
    assert(flags == Set(32))
  }

  test("r03: raw local[8] at 10x enriched's time is flagged; raw at parity is not") {
    val enriched = ("enriched", 8) -> level(35.87)
    assert(flagged("raw", Quiet, enriched, ("raw", 8) -> level(364.33)) == Set(8))
    assert(flagged("raw", Quiet, enriched, ("raw", 8) -> level(40.0)).isEmpty)
    // nothing to compare against: only the rep checks apply
    assert(flagged("raw", Quiet, ("raw", 8) -> level(364.33)).isEmpty)
  }

  test("r05: cow-epochs at 2.20x the quiet spin time is flagged") {
    // one rep of 193.33 s at 0.0% steal, spin 77 ms vs a quiet 35 ms
    val cow = Bench.Level(events = 1000L, repSecs = Seq(193.33), repSteal = Seq(0.0),
      repSpin = Seq(77.0))
    val flags = Bench.contended(Map(("cow-epochs", 8) -> cow), quietSpinMs = 35.0)
    assert(flags == Map(("cow-epochs", 8) -> "best-rep cpu slowdown 2.20x"))
  }

  test("every headline query is registered in SparkEntry.queries") {
    assert(Bench.headline.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(Bench.headline.contains("q_ann_ivf_lloyd"))
  }
}
