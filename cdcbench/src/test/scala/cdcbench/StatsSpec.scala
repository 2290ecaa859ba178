package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles and the sample count they are reported with") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.percentile(xs, 0.95) == 95.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    assert(Stats.percentile(Nil, 0.5).isNaN)
    val s = Stats.summarize(xs)
    assert(s.n == 100 && s.p50 == 50.0)
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.samplesBeyond(200, 0.95) == 10)
    assert(Stats.samplesBeyond(199, 0.95) == 9)
    assert(Stats.reportablePercentile(200).contains(0.95))
    assert(Stats.reportablePercentile(199).contains(0.9))
    assert(Stats.reportablePercentile(1000).contains(0.99))
    assert(Stats.reportablePercentile(40).contains(0.75))
    assert(Stats.reportablePercentile(39).isEmpty)
    assert(Stats.summarize((1 to 39).map(_.toDouble)).tail.isEmpty)
    assert(Stats.summarize((1 to 200).map(_.toDouble)).tail.contains(0.95 -> 190.0))
  }

  test("union of intervals merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    // a child that outlives its parent only covers the parent's part
    assert(Stats.selfTime(0, 100, Seq((90L, 150L), (-20L, 10L))) == 80)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("a job belongs to the innermost span holding its start, whenever it is handled") {
    // epoch [0, 100) > apply [10, 60), then lookup [70, 80); a later epoch still open
    val spans = Seq(Span(1, 0, "epoch", 1, 0, 100), Span(2, 1, "apply", 1, 10, 60),
      Span(3, 1, "lookup", 1, 70, 80), Span(4, 0, "epoch", 2, 200))
    assert(Trace.spanAt(5, spans) == 1)
    assert(Trace.spanAt(10, spans) == 2)
    assert(Trace.spanAt(59, spans) == 2)
    assert(Trace.spanAt(60, spans) == 1) // end is exclusive
    assert(Trace.spanAt(75, spans) == 3)
    assert(Trace.spanAt(150, spans) == 0) // between epochs: the run
    assert(Trace.spanAt(-1, spans) == 0)
    assert(Trace.spanAt(500, spans) == 4)
  }

  private val rows = Seq(
    Seq[Any]("conv-1", 1L, "user", "hi", null, new java.sql.Timestamp(1000L), 5L),
    Seq[Any]("conv-1", 2L, "assistant", "hello", "tool_3", new java.sql.Timestamp(2000L), 9L),
    Seq[Any]("conv-2", 1L, "user", "x", null, new java.sql.Timestamp(3000L), 11L))

  test("the digest does not depend on row order") {
    assert(Stats.digest(rows) == Stats.digest(rows.reverse))
    assert(Stats.digest(rows) == Stats.digest(Seq(rows(1), rows(2), rows(0))))
    assert(Stats.digest(rows).rows == 3)
  }

  test("one changed cell, a dropped row or a duplicated row flips the digest") {
    val base = Stats.digest(rows)
    for (r <- rows.indices; c <- rows(r).indices) {
      val changed = rows.updated(r, rows(r).updated(c, rows(r)(c) match {
        case null => "x"
        case s: String => s + "!"
        case l: Long => l + 1
        case t: java.sql.Timestamp => new java.sql.Timestamp(t.getTime + 1)
      }))
      assert(Stats.digest(changed) != base, s"row $r cell $c")
    }
    assert(Stats.digest(rows.tail) != base)
    assert(Stats.digest(rows :+ rows.head) != base)
    // null and the string "null" are different cells
    val nulls = Seq(Seq[Any]("a", null))
    assert(Stats.digest(nulls) != Stats.digest(Seq(Seq[Any]("a", "null"))))
  }

  test("failure counting: failed ops count, and a failed gate fails every op") {
    val ok = new Stats.Outcome
    (1 to 4).foreach(i => ok.attempt(ok = true, s"op $i"))
    assert(ok.correct && ok.attempted == 4 && ok.failed == 0 && ok.failedShare == 0.0)

    val some = new Stats.Outcome
    (1 to 4).foreach(i => some.attempt(ok = i != 2, s"op $i"))
    assert(!some.correct && some.failed == 1 && some.failedShare == 0.25)
    assert(some.messages == Seq("op 2"))

    val gated = new Stats.Outcome
    (1 to 4).foreach(i => gated.attempt(ok = true, s"op $i"))
    gated.gate(ok = true, "fine")
    assert(gated.correct)
    gated.gate(ok = false, "final state differs")
    assert(!gated.correct && gated.failed == 4 && gated.failedShare == 1.0)

    // a run with no ops still reports one attempted op
    assert(new Stats.Outcome().attempted == 1)
  }

  test("the reference keeps the max (ts, lsn) event per key and drops delete winners") {
    def ev(k: Int, ts: Long, lsn: Long, op: String) =
      Ev(s"c$k", 1L, "user", s"v$lsn", null, new java.sql.Timestamp(ts), lsn, op, 0)
    val ref = new Reference
    ref(Seq(ev(1, 10, 1, "I"), ev(1, 10, 2, "U"), ev(1, 9, 3, "U"), // tie on ts: lsn wins
      ev(2, 5, 4, "I"), ev(2, 6, 5, "D"), // delete wins: absent
      ev(3, 5, 6, "I"), ev(3, 7, 7, "X"))) // invalid op never applies
    assert(ref.live(("c1", 1L)).map(_.lsn).contains(2L))
    assert(ref.live(("c2", 1L)).isEmpty)
    assert(ref.live(("c3", 1L)).map(_.lsn).contains(6L))
    assert(ref.liveRows.size == 2)
  }
}
