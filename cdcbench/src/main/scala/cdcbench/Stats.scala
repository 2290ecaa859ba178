package cdcbench

/** The benchmark's own arithmetic: percentiles with their sample count,
  * interval unions for self time, the order-independent table digest, and
  * op/failure counting. Pure functions, covered by `StatsSpec`. */
object Stats {

  /** Nearest-rank percentile `p` in (0, 1] of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sorted
      sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the nearest-rank position of percentile `p`. */
  def samplesBeyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The highest of `candidates` that has at least `minBeyond` samples beyond
    * it among `n`, if any — the tail percentile a run may report. */
  def reportablePercentile(n: Int, candidates: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75),
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => samplesBeyond(n, p) >= minBeyond)

  /** A timing summary: median, the highest reportable tail percentile, n. */
  final case class Summary(n: Int, p50: Double, tail: Option[(Double, Double)])

  def summarize(xs: Seq[Double]): Summary =
    Summary(xs.size, median(xs),
      reportablePercentile(xs.size).map(p => p -> percentile(xs, p)))

  /** Total length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of `[start, end)` that
    * its children cover (children are clipped to the parent). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  /** Order-independent digest of a row set: row count plus the sum, modulo
    * 2^64, of a 64-bit hash of each row's canonical encoding. Any changed
    * cell changes its row's hash and so the sum. */
  final case class Digest(rows: Long, sum: Long) {
    override def toString: String = f"$rows:$sum%016x"
  }

  def rowHash(cells: Seq[Any]): Long = {
    val enc = cells.map {
      case null => "\u0000null"
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case ts: java.sql.Timestamp => s"ts${ts.getTime}.${ts.getNanos}"
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case other => other.toString
    }.mkString("\u0001")
    val hi = scala.util.hashing.MurmurHash3.stringHash(enc, 0x5bd1e995)
    val lo = scala.util.hashing.MurmurHash3.stringHash(enc, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def digest(rows: Iterable[Seq[Any]]): Digest = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Digest(n, sum)
  }

  /** Op accounting for one run. A failed correctness gate fails every op. */
  final class Outcome {
    private var attempted0 = 0L
    private var failed0 = 0L
    private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempt(ok: Boolean, what: => String): Unit = {
      attempted0 += 1
      if (!ok) { failed0 += 1; failures += what }
    }
    private var gateFailed = false
    /** A run-level gate: when it fails, every op of the run counts failed. */
    def gate(ok: Boolean, what: => String): Unit =
      if (!ok) { failures += what; gateFailed = true }
    def attempted: Long = math.max(1L, attempted0)
    def failed: Long = if (gateFailed) attempted else failed0
    def correct: Boolean = !gateFailed && failed0 == 0
    def failedShare: Double = failed.toDouble / attempted
    def messages: Seq[String] = failures.toSeq
  }
}
