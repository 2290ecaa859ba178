package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: language ID, quality
 * scoring, token counting, document fingerprinting. All pure Column
 * expressions (codegen'd, no UDF) and deliberately SQL-expressible so the
 * DuckDB oracle can replicate them exactly.
 */
object TextAnalysis {

  /** Tiny per-language stopword lists (deterministic heuristic — the point
    * is the distributed scoring shape, not linguistic accuracy). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"))

  private def words(c: Column): Column = split(lower(c), "\\s+")

  /** Sorted language codes; index into the textStats `hits` array. */
  val langCodes: Seq[String] = stopwords.keys.toSeq.sorted

  /** Single-pass stats struct (hits array, n_tokens, n_words, punct) via the
    * native [[graft.functions.TextStatsExpr]] — one scan, no HOF fallbacks. */
  def textStats(c: Column): Column =
    graft.functions.TextStatsExpr.textStats(c, langCodes.map(stopwords))

  /**
   * Language ID: argmax of stopword hits across known languages; ties and
   * zero hits -> "und" (undetermined). Deterministic tie-break: higher count
   * wins, then lexicographic language code.
   */
  def languageId(c: Column): Column = languageIdFrom(textStats(c))

  /** Derivation from a precomputed stats struct (lets callers share one
    * textStats eval across several derived columns). */
  def languageIdFrom(stats: Column): Column = {
    // max over (hits, negated lang rank): higher count wins, ties prefer the
    // lexicographically-smaller language code.
    val best = langCodes.zipWithIndex.map { case (l, i) =>
      struct(stats.getField("hits").getItem(i).as("hits"),
        lit(-i).as("nrank"), lit(l).as("lang"))
    }.reduce((a, b) => when(b > a, b).otherwise(a))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Token count via a BPE-ish regex: letter/digit runs, or a single
    * non-space symbol — the standard pre-tokenizer shape. RE2-compatible so
    * the DuckDB oracle can evaluate the identical pattern. */
  val tokenPattern = "[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"
  def tokenCount(c: Column): Column = textStats(c).getField("n_tokens")

  /** Whitespace word count. */
  def wordCount(c: Column): Column = textStats(c).getField("n_words")

  /**
   * Quality score in [0,1]: mean of
   *  - length score   — min(1, chars/200)
   *  - word-length sanity — 1 if mean word length in [3,12] else 0
   *  - punctuation ratio  — 1 - min(1, punct/(chars/10))
   *  - stopword presence  — min(1, hits/5) over all languages
   * (the length/punct/stopword-ratio trio of standard corpus filters).
   */
  def qualityScore(c: Column): Column = qualityScoreFrom(c, textStats(c))

  def qualityScoreFrom(c: Column, stats: Column): Column = {
    val chars = length(c).cast("double")
    val nWords = stats.getField("n_words").cast("double")
    val lenScore = least(lit(1.0), chars / 200.0)
    val meanWord = when(nWords > 0, (chars - nWords + lit(1)) / nWords).otherwise(lit(0.0))
    val wordScore = when(meanWord >= 3 && meanWord <= 12, lit(1.0)).otherwise(lit(0.0))
    val punct = stats.getField("punct").cast("double")
    val punctScore = lit(1.0) - least(lit(1.0), punct / greatest(chars / 10.0, lit(1.0)))
    val hits = langCodes.indices.map(i => stats.getField("hits").getItem(i)).reduce(_ + _)
    val stopScore = least(lit(1.0), hits.cast("double") / 5.0)
    (lenScore + wordScore + punctScore + stopScore) / 4.0
  }

  /** Quality in integer basis points: floor(q*10000 + 0.5) is pure double
    * arithmetic, so it is engine-portable (round() differs between engines
    * at decimal-representation boundaries). */
  def qualityBp(c: Column): Column =
    floor(qualityScore(c) * 10000 + 0.5).cast("int")

  def qualityBpFrom(c: Column, stats: Column): Column =
    floor(qualityScoreFrom(c, stats) * 10000 + 0.5).cast("int")

  /** Content fingerprint: md5 of the normalized text (lowercased, collapsed
    * whitespace) — exact-dup key robust to spacing. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Order-insensitive vocabulary fingerprint: md5 over the sorted distinct
    * word set — catches shuffled near-dups. */
  def vocabFingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(c)))))
}
