package graft.sources

/**
 * JDBC parallel-scan split planner — the pure logic of the reference's
 * flagship RDBMS reader family, DB-free and fully unit-testable.
 *
 * Reference capabilities reproduced (capability parity, original code):
 *  - integer split-pk range slicing with BigInteger arithmetic (reference:
 *    plugin-rdbms-util/.../reader/util/SingleTableSplitUtil.java:33-124;
 *    generic range math common/.../util/RangeSplitUtil.java:14-93);
 *  - string split-pk slicing via an order-preserving radix-128 embedding of
 *    ASCII strings (reference: RangeSplitUtil.java string split,
 *    SingleTableSplitUtil.java:142-226);
 *  - one extra `pk IS NULL` slice so null-pk rows are not dropped
 *    (reference: SingleTableSplitUtil.java:279-289);
 *  - table-mode slice multiplier: each table is split into
 *    adviceNumber x 5 slices (reference: ReaderSplitUtil.java:20-107);
 *  - sampled split: pre-collected quantile points -> range predicates (the
 *    Oracle SAMPLE() strategy, reference: SingleTableSplitUtil.java:294-389
 *    — on Spark the points come from `df.stat.approxQuantile` or a sampled
 *    JDBC query);
 *  - shard-table pattern expansion `table_[00-31]` (reference:
 *    plugin-rdbms-util/.../util/TableExpandUtil.java:30-70).
 *
 * The emitted predicates are consumable by `spark.read.jdbc(url, table,
 * predicates, props)` — one Spark input partition per predicate, which is
 * exactly the reference's one-task-per-slice model. On a 1000-executor
 * cluster the slice count is the scan parallelism; slices are contiguous,
 * non-overlapping and cover the full key range plus NULLs, so the union of
 * partitions is the table regardless of cluster size.
 */
object JdbcSplit {

  /** A half-open (or closed, for the last) key range; `toSql` renders the
    * partition predicate. */
  final case class Slice(pk: String, lo: Option[String], hi: Option[String],
      hiInclusive: Boolean, isNullSlice: Boolean = false, quoted: Boolean = false) {
    private def lit(v: String): String = if (quoted) "'" + v.replace("'", "''") + "'" else v
    def toSql: String =
      if (isNullSlice) s"$pk IS NULL"
      else {
        val lower = lo.map(v => s"$pk >= ${lit(v)}")
        val upper = hi.map(v => if (hiInclusive) s"$pk <= ${lit(v)}" else s"$pk < ${lit(v)}")
        (lower ++ upper).mkString(" AND ")
      }
  }

  /**
   * Split [min, max] into at most `slices` contiguous BigInt ranges:
   * boundary points b0=min < b1 < ... < bn=max (n <= slices, fewer when the
   * range has fewer than `slices` values). Remainder spreads over the first
   * ranges so sizes differ by at most one. Deterministic.
   */
  def splitBigInt(min: BigInt, max: BigInt, slices: Int): Seq[BigInt] = {
    require(slices >= 1, "slices must be >= 1")
    require(min <= max, s"min $min > max $max")
    val span = max - min + 1
    val n = if (span < slices) span.toInt else slices
    val step = span / n
    val rem = (span % n).toInt
    val b = scala.collection.mutable.ArrayBuffer[BigInt](min)
    var cur = min
    for (i <- 0 until n) {
      cur += step + (if (i < rem) 1 else 0)
      b += cur
    }
    b(n) = max // last boundary is inclusive (cur ended at max + 1)
    b.toSeq
  }

  /** Integer split-pk slices: half-open ranges over the boundary points plus
    * the `IS NULL` slice (reference: SingleTableSplitUtil.java:279-289). */
  def integerSlices(pk: String, min: BigInt, max: BigInt, slices: Int,
      nullSlice: Boolean = true): Seq[Slice] = {
    val b = splitBigInt(min, max, slices)
    val ranges = b.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      val last = i == b.size - 2
      Slice(pk, Some(lo.toString), Some(hi.toString), hiInclusive = last)
    }.toSeq
    ranges ++ (if (nullSlice) Seq(Slice(pk, None, None, hiInclusive = false,
      isNullSlice = true)) else Nil)
  }

  // ---- string pk: order-preserving radix-128 embedding ---------------------

  private val Radix = BigInt(128)

  /** Embed an ASCII string as a base-128 integer over `len` digit positions
    * (right-padded with NUL digits). Lexicographic order of ASCII strings maps
    * to numeric order of the embeddings. */
  def stringToBig(s: String, len: Int): BigInt = {
    require(s.forall(_ < 128), s"string split-pk requires ASCII, got: $s")
    (0 until len).foldLeft(BigInt(0)) { (acc, i) =>
      acc * Radix + (if (i < s.length) BigInt(s.charAt(i).toInt) else BigInt(0))
    }
  }

  /** Inverse of [[stringToBig]]; trailing NUL digits are stripped (strips
    * move a boundary at most one lexicographic position left, which keeps
    * slices contiguous because each boundary is shared by its neighbors). */
  def bigToString(v: BigInt, len: Int): String = {
    val digits = new Array[Char](len)
    var cur = v
    for (i <- (len - 1) to 0 by -1) {
      digits(i) = (cur % Radix).toInt.toChar
      cur /= Radix
    }
    new String(digits).replaceAll("\\u0000+$", "")
  }

  /** String split-pk slices via radix-128 boundaries. */
  def stringSlices(pk: String, min: String, max: String, slices: Int,
      nullSlice: Boolean = true): Seq[Slice] = {
    require(min <= max, s"min '$min' > max '$max'")
    val len = math.max(min.length, max.length)
    val bounds = splitBigInt(stringToBig(min, len), stringToBig(max, len), slices)
      .map(bigToString(_, len)).distinct // stripping NULs can collapse neighbors
    val ranges =
      if (bounds.size == 1) Seq(Slice(pk, Some(bounds.head), Some(bounds.head),
        hiInclusive = true, quoted = true))
      else bounds.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
        val last = i == bounds.size - 2
        Slice(pk, Some(lo), Some(hi), hiInclusive = last, quoted = true)
      }.toSeq
    ranges ++ (if (nullSlice) Seq(Slice(pk, None, None, hiInclusive = false,
      isNullSlice = true)) else Nil)
  }

  /** Sampled split: caller-provided quantile points become range
    * boundaries (first slice unbounded below, last unbounded above), plus
    * the NULL slice — the Oracle SAMPLE() strategy's shape. Quoted points
    * must arrive in the database's ascending order. */
  def sampledSlices(pk: String, points: Seq[String], quoted: Boolean,
      nullSlice: Boolean = true): Seq[Slice] = {
    require(points.nonEmpty, "sampled split needs at least one point")
    // numeric points arrive as decimal STRINGS (Oracle SAMPLE resultset,
    // approxQuantile BigInts) — a lexicographic sort misorders mixed-width
    // values ("1000" < "500"), which turns the sliding ranges into
    // overlapping slices that read rows twice; sort an unquoted pk by
    // numeric value. A QUOTED pk compares under the database's collation
    // (case-insensitive, locale), which no Java sort reproduces, so its
    // points keep the order the database returned them in (ORDER BY).
    val distinct = points.distinct
    val sorted =
      if (quoted) distinct
      else if (distinct.forall(p => scala.util.Try(BigDecimal(p)).isSuccess))
        distinct.sortBy(BigDecimal(_))
      else distinct.sorted
    val first = Slice(pk, None, Some(sorted.head), hiInclusive = false, quoted = quoted)
    val mids = sorted.sliding(2).collect { case Seq(lo, hi) =>
      Slice(pk, Some(lo), Some(hi), hiInclusive = false, quoted = quoted)
    }.toSeq
    val last = Slice(pk, Some(sorted.last), None, hiInclusive = false, quoted = quoted)
    (first +: mids :+ last) ++
      (if (nullSlice) Seq(Slice(pk, None, None, hiInclusive = false, isNullSlice = true))
       else Nil)
  }

  /** Table-mode slice count: adviceNumber channels x 5 slices per channel
    * (reference: ReaderSplitUtil's eachTableShouldSplittedNumber). */
  val EachTableSplitMultiplier = 5
  def adviceSliceCount(adviceNumber: Int, tableMode: Boolean): Int =
    if (tableMode) math.max(1, adviceNumber) * EachTableSplitMultiplier
    else math.max(1, adviceNumber)

  /** Expand a shard-table pattern `prefix_[00-31]` (zero-padded to the width
    * of the bounds) into the concrete table list; a plain name passes
    * through. */
  def expandTables(pattern: String): Seq[String] = {
    val re = """(.*)\[(\d+)-(\d+)\](.*)""".r
    pattern.trim match {
      case re(pre, lo, hi, post) =>
        val width = lo.length
        (lo.toInt to hi.toInt).map(i => s"$pre${("%0" + width + "d").format(i)}$post")
      case plain => Seq(plain)
    }
  }

  /** querySql mode: one slice per user SQL (reference:
    * ReaderSplitUtil.java:92-102). */
  def querySqlSlices(sqls: Seq[String]): Seq[String] = sqls
}
