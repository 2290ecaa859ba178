package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Large-scale text deduplication operators for training-data pipelines.
 * All stages are DataFrame-native (explode / groupBy / join) so they
 * partition and shuffle like any relational plan: candidate generation is a
 * bucket-join (shuffle proportional to candidate count, not n^2), and only
 * the verify step touches full documents.
 *
 * Shingling is word-level k-grams; hashing uses xxhash64 with distinct seeds
 * (deterministic across runs and cluster sizes).
 */
object TextDedup {

  /** Exact dedup by content hash: one hash-groupBy, keeps the smallest id
    * per group (deterministic canonical representative). */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-k-gram shingles per doc: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    words(df, idCol, textCol).select(col(idCol), explode(gramSet(textCol, k)).as("shingle"))

  /** `df`'s id and text with each doc's word split as `__w`.
    *
    * The split is materialized as its OWN projection column before the
    * k-gram lambda touches it: Spark evaluates a higher-order function's
    * body per element with no loop-invariant hoisting, so `slice(split(t),
    * i+1, k)` inside the lambda re-splits the text once per gram — O(words²)
    * per document (measured 5x on the LSH pipeline at sf0.1). CollapseProject
    * keeps the multi-referenced non-cheap split un-inlined. */
  private def words(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.ensure(df).select(col(idCol), col(textCol), split(col(textCol), "\\s+").as("__w"))

  /** A doc's distinct word-k-gram set over [[words]]' `__w`; a doc under k
    * words has its whole text as its one gram.
    *
    * [[shingles]] explodes this expression itself, not a column holding it:
    * exploding a gram column lets the optimizer infer `size(grams) > 0` and
    * push it below the projection into the scan, so every doc's grams are
    * built twice, the first time before [[Parallelism.ensure]] fans the rows
    * out (measured 0.59 → 0.98 s for the brute join on a 500-doc corpus). */
  private def gramSet(textCol: String, k: Int): Column = {
    val w = col("__w")
    val grams = transform(sequence(lit(0), greatest(size(w) - k, lit(0))),
      i => concat_ws(" ", slice(w, i + 1, lit(k))))
    array_distinct(when(size(w) >= k, grams).otherwise(array(col(textCol))))
  }

  /** Candidate pairs (a < b) joined to each side's (id, grams, sz), kept at
    * |A ∩ B| / |A ∪ B| >= threshold: (a, b, jaccard). The join strategy is
    * AQE's, from the runtime size of the gram side (broadcast under the
    * session's threshold, shuffle beyond — candidate-proportional either
    * way). */
  private def verify(candidates: DataFrame, grams: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    def side(s: String) = grams.select(col(idCol).as(s), col("grams").as(s"__g$s"),
      col("sz").as(s"sz$s"))
    candidates.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /**
   * Exact n-gram Jaccard near-dup pairs (the brute verify path and the
   * oracle for the approximate variants): pairs (a < b) with
   * |A ∩ B| / |A ∪ B| >= threshold, computed relationally —
   * shingle-join to count intersections, then sizes via a broadcast join.
   * At 100 TB this is only run on LSH candidates; standalone it is
   * O(sum over shingle of df^2) and suits corpus slices.
   *
   * The shingles are not cached: the result is lazy, so a cache could never
   * be released and would pin the relation in the session for its
   * lifetime. The two join sides are one plan under different aliases, so
   * exchange reuse shuffles the shingles once for both; only the size
   * count re-derives them.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("a"), col("shingle"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col(idCol).as("a"), col("sz").as("sza"))), Seq("a"))
      .join(broadcast(sizes.select(col(idCol).as("b"), col("sz").as("szb"))), Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /**
   * Exact threshold-Jaccard self-join with PREFIX FILTERING — the standalone
   * scale path that [[ngramJaccardPairs]] cannot be (its candidate join runs
   * over EVERY shingle occurrence: O(sum over shingle of df²), quadratic in
   * the hottest stopword-grams at corpus scale). Classic signature-based
   * set-similarity join (SSJoin/PPJoin family, public literature):
   *
   *   1. order each doc's shingles by ascending GLOBAL document frequency
   *      (ties by shingle — a total order, deterministic across runs);
   *   2. keep only the first `|X| - ceil(t·|X|) + 1` tokens (the prefix):
   *      any pair with J ≥ t must share at least one PREFIX token (if two
   *      sets share none of each other's prefixes, their intersection is
   *      bounded below ceil(t·max(|A|,|B|)) — the pigeonhole lemma);
   *   3. equi-join on prefix tokens only, with the length filter
   *      `min(|A|,|B|) ≥ t·max(|A|,|B|)` (J ≥ t forces it);
   *   4. exact-Jaccard verify on the deduplicated candidates.
   *
   * Output is IDENTICAL to [[ngramJaccardPairs]] (both filters are
   * lossless); the candidate shuffle is proportional to Σ over prefix-token
   * of df_prefix² — and prefix tokens are by construction the RAREST grams
   * of each doc, so the hot high-df shingles that blow up the naive join
   * rarely generate a candidate. The verify never re-tokenizes text: it
   * joins the candidate pairs to the same per-doc gram arrays the prefixes
   * come from. Filter boundaries subtract 1e-6 so FP rounding can only
   * ADMIT a borderline candidate (the exact verify rejects it), never drop
   * a true pair. Reference analogue: none (DataX has no similarity join);
   * this is the 100 TB standalone form of the operator.
   *
   * Nothing is materialized by hand: the gram arrays' three consumers (the
   * prefix explode and both verify sides) are one plan, so exchange reuse
   * shuffles them once for all three, and a lost executor recomputes from
   * lineage. Building the frame runs no Spark job.
   */
  def ngramJaccardPrefixPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val t = threshold
    val sh = shingles(df, idCol, textCol, k)
    // global document frequency per shingle: one shuffle on shingle, then
    // carried back to the occurrence rows by the same-key join (co-partitioned
    // with the groupBy — no extra exchange of the big side)
    val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    // per-doc canonical gram array, rarest-first (ties by shingle: a total
    // order, deterministic across runs)
    val docGrams = sh.join(docFreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("shingle")))).as("__toks"))
      .select(col(idCol), expr("transform(__toks, x -> x.shingle)").as("grams"),
        size(col("__toks")).as("sz"))
    // prefix tokens with their rank (1-based) for the positional filter
    val prefixes = docGrams.select(col(idCol), col("sz"),
      posexplode(expr(s"slice(grams, 1, greatest(1, " +
        s"cast(sz - ceil($t * sz - 1e-6) + 1 as int)))")).as(Seq("__p0", "shingle")))
      .withColumn("rn", col("__p0") + 1).drop("__p0")
    val l = prefixes.select(col(idCol).as("a"), col("sz").as("sza"),
      col("rn").as("ra"), col("shingle"))
    val r = prefixes.select(col(idCol).as("b"), col("sz").as("szb"),
      col("rn").as("rb"), col("shingle"))
    val candidates = l.join(r, Seq("shingle"))
      .filter(col("a") < col("b")
        // length filter: J >= t forces min >= t * max
        && least(col("sza"), col("szb")) >=
          greatest(col("sza"), col("szb")) * t - 1e-6
        // positional filter (PPJoin): common tokens all rank at/after the
        // FIRST shared one, so overlap <= 1 + min(|A|-ra, |B|-rb); J >= t
        // needs overlap >= t/(1+t) * (|A|+|B|)
        && (lit(1) + least(col("sza") - col("ra"), col("szb") - col("rb"))) >=
          (col("sza") + col("szb")) * (t / (1 + t)) - 1e-6)
      .select("a", "b").distinct()
    verify(candidates, docGrams, idCol, threshold)
  }

  /** MinHash signatures: for each of `numHashes` seeded hash functions, the
    * min shingle hash. Returned long array column `sig`.
    *
    * The variable-length shingle STRING is hashed exactly once; the
    * `numHashes` family members re-hash that single 8-byte value with the
    * seed (`xxhash64(h, i)`), which is a valid independent-permutations
    * approximation at a fraction of the cost of hashing the string per seed
    * (measured ~4x on the signature pass — the dominant cost of the LSH
    * pipeline). One groupBy pass computes all mins map-side. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
      .withColumn("__h", xxhash64(col("shingle")))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(col("__h"), lit(i))).as(s"h$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /**
   * MinHash-LSH near-dup pairs: signature -> bands -> band-hash bucket join
   * -> exact-Jaccard verify. With (bands, rowsPerBand) = (64, 2) a pair at
   * jaccard 0.5 is caught with prob 1-(1-0.25)^64 ≈ 1-1e-8: effectively
   * exact above 0.5 while candidate generation stays a bucket equi-join
   * (shuffle on band hash, never an n^2 product). The verify joins each
   * candidate to its docs' gram sets, built once per doc, never per pair.
   */
  def minhashLshPairs(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3, numHashes: Int = 128, bands: Int = 64,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, k, numHashes)
    val banded = sigs.select(col(idCol),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"hash(b, slice(sig, b * $r + 1, $r)))")).as(Seq("band", "bh")))
    val l = banded.select(col(idCol).as("a"), col("band"), col("bh"))
    val rj = banded.select(col(idCol).as("b"), col("band"), col("bh"))
    val candidates = l.join(rj, Seq("band", "bh")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val grams = words(df, idCol, textCol).select(col(idCol), gramSet(textCol, k).as("grams"))
      .withColumn("sz", size(col("grams")))
    verify(candidates, grams, idCol, threshold)
  }

  /** SimHash bit budget: 60 = 15 hex digits of the token md5 (4 bits each).
    * md5 (not xxhash64) so the signature is reproducible bit-for-bit by any
    * engine with an md5 function — the DuckDB oracle recomputes it in SQL. */
  val SimhashBits = 60

  /**
   * SimHash over word tokens: per bit, sum +1/-1 weighted by token hash
   * bits; sign gives the fingerprint bit. Near-dups = fingerprints within
   * `maxHamming`. Candidate generation partitions the bits into
   * `maxHamming + 1` chunks (pigeonhole: any pair within maxHamming agrees
   * exactly on at least one chunk) and bucket-joins on (chunk, chunkBits).
   *
   * Token-hash bit j = bit (j%4) of hex digit (j/4) of md5(token) — one md5
   * per distinct (doc, token), all bit extraction inside codegen.
   */
  def simhash(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      bits: Int = SimhashBits): DataFrame = {
    require(bits % 4 == 0 && bits <= 60, "bits must be a multiple of 4, <= 60")
    // one parse per token: the first 15 hex digits of the md5 become ONE
    // 60-bit integer (conv), and every signature bit is a shift+mask of it —
    // instead of 60 substring+instr string parses per (doc, token) row.
    // Signature bit j still reads bit (j%4) of hex digit (j/4+1): that digit
    // sits at bit 4*(14 - j/4) of the big-endian parsed value.
    val toks = Parallelism.ensure(df).select(col(idCol),
      explode(array_distinct(split(col(textCol), "\\s+"))).as("tok"))
      .withColumn("hv", expr(
        "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    val bitSums = (0 until bits).map { j =>
      val p = 4 * (14 - j / 4) + (j % 4)
      sum(expr(s"(hv >> $p) & 1").cast("int")).as(s"b$j")
    }
    // sign test: (+1/-1 sum) > 0  <=>  2 * ones > tokens
    toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), bitSums: _*)
      .select(col(idCol), (0 until bits).map(j =>
        when(col(s"b$j") * 2 > col("__n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Widest supported signature: 120 bits, both md5 halves (hex digits 1-15
    * and 16-30) as two 60-bit longs — still bit-for-bit reproducible by any
    * engine with md5 (the DuckDB oracle recomputes it). */
  val SimhashWideBits = 120

  /** Narrowest chunk key whose bucket-join blocking survives corpus scale:
    * below 12 bits (4096 buckets/chunk) candidate mass trends toward
    * chunks*n²/2^bitsPer — quadratic at 100 TB. */
  val MinChunkBits = 12

  /** The blocking plan [[simhashPairs]] will use for a (bits, maxHamming)
    * request: (signatureBits, chunkBits). When the requested signature
    * would produce chunk keys under [[MinChunkBits]], the signature auto-
    * widens to [[SimhashWideBits]] at the SAME absolute hamming budget —
    * a higher-resolution estimate of the same token-multiset similarity
    * (pairs are then the 120-bit hamming <= maxHamming set). */
  def simhashBlocking(maxHamming: Int, bits: Int = SimhashBits): (Int, Int) = {
    val chunks = maxHamming + 1
    if (bits / chunks >= MinChunkBits) (bits, bits / chunks)
    else (SimhashWideBits, SimhashWideBits / chunks)
  }

  /** Near-dup pairs (a < b, hamming): pigeonhole chunk bucket-join over the
    * signature picked by [[simhashBlocking]], exact hamming verify on the
    * candidates. Never all-pairs: shuffle is proportional to candidate
    * count, and the chunk-key width (logged, never silent) bounds the
    * candidate mass — 2^chunkBits buckets per chunk. */
  def simhashPairs(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, bits: Int = SimhashBits): DataFrame = {
    val chunks = maxHamming + 1
    val (sigBits, bitsPer) = simhashBlocking(maxHamming, bits)
    if (sigBits != bits)
      System.err.println(s"[simhash] widened signature $bits -> $sigBits bits: " +
        s"maxHamming=$maxHamming needs $chunks chunks and $bits-bit chunks would be " +
        s"${bits / chunks} bits (blocking keys: $chunks x ${bitsPer}-bit = " +
        s"${1L << bitsPer} buckets/chunk)")
    if (bitsPer < MinChunkBits)
      System.err.println(s"[simhash] WARNING: chunk keys are only $bitsPer bits " +
        s"(${1L << bitsPer} buckets/chunk) — candidate mass ~n^2*$chunks/${1L << bitsPer} " +
        "at corpus scale; lower maxHamming for a 100 TB run")
    if (sigBits == bits) simhashPairsNarrow(df, idCol, textCol, maxHamming, bits, bitsPer)
    else simhashPairsWide(df, idCol, textCol, maxHamming, bitsPer)
  }

  private def simhashPairsNarrow(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int, bitsPer: Int): DataFrame = {
    val chunks = maxHamming + 1
    val sigs = simhash(df, idCol, textCol, bits)
    val keyed = sigs.select(col(idCol), col("simhash"),
      posexplode(expr(s"transform(sequence(0, ${chunks - 1}), c -> " +
        s"shiftright(simhash, c * $bitsPer) & ${(1L << bitsPer) - 1})"))
        .as(Seq("chunk", "ck")))
    val l = keyed.select(col(idCol).as("a"), col("simhash").as("sa"), col("chunk"), col("ck"))
    val r = keyed.select(col(idCol).as("b"), col("simhash").as("sb"), col("chunk"), col("ck"))
    l.join(r, Seq("chunk", "ck")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 120-bit signature as two 60-bit longs (sim0 = global bits 0-59 from
    * md5 hex digits 1-15, sim1 = bits 60-119 from digits 16-30); same
    * one-conv-per-half bit extraction as [[simhash]]. */
  private[operators] def simhashWide(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = Parallelism.ensure(df).select(col(idCol),
      explode(array_distinct(split(col(textCol), "\\s+"))).as("tok"))
      .withColumn("__h", md5(col("tok")))
      .withColumn("hv0", expr("cast(conv(substring(__h, 1, 15), 16, 10) as bigint)"))
      .withColumn("hv1", expr("cast(conv(substring(__h, 16, 15), 16, 10) as bigint)"))
    val bitSums = (0 until SimhashWideBits).map { j =>
      // global bit j reads bit (j%4) of md5 hex digit (j/4 + 1); the digit
      // sits at bit 4*(14 - localDigit) of its half's big-endian parse
      val (src, p) =
        if (j < 60) ("hv0", 4 * (14 - j / 4) + (j % 4))
        else ("hv1", 4 * (29 - j / 4) + (j % 4))
      sum(expr(s"($src >> $p) & 1").cast("int")).as(s"b$j")
    }
    def assemble(range: Range, base: Int): Column = range.map(j =>
      when(col(s"b$j") * 2 > col("__n"), shiftleft(lit(1L), j - base)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), bitSums: _*)
      .select(col(idCol), assemble(0 until 60, 0).as("sim0"),
        assemble(60 until SimhashWideBits, 60).as("sim1"))
  }

  /** Chunk key c over the concatenated (sim0, sim1) 120-bit signature —
    * chunks spanning the 60-bit boundary stitch both halves. */
  private def wideChunkKey(c: Int, bitsPer: Int): Column = {
    val lo = c * bitsPer
    val hi = lo + bitsPer - 1
    def mask(w: Int): Long = (1L << w) - 1
    if (hi < 60) shiftright(col("sim0"), lo).bitwiseAND(lit(mask(bitsPer)))
    else if (lo >= 60) shiftright(col("sim1"), lo - 60).bitwiseAND(lit(mask(bitsPer)))
    else {
      val fromLow = 60 - lo
      shiftright(col("sim0"), lo).bitwiseAND(lit(mask(fromLow)))
        .bitwiseOR(shiftleft(col("sim1").bitwiseAND(lit(mask(bitsPer - fromLow))), fromLow))
    }
  }

  private def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bitsPer: Int): DataFrame = {
    val chunks = maxHamming + 1
    val sigs = simhashWide(df, idCol, textCol)
    // pigeonhole still holds with trailing bits uncovered (chunks*bitsPer
    // <= 120): <= maxHamming differing bits hit at most maxHamming of the
    // maxHamming+1 chunks, so some chunk key matches exactly
    val keyed = sigs.select(col(idCol), col("sim0"), col("sim1"),
      posexplode(array((0 until chunks).map(wideChunkKey(_, bitsPer)): _*))
        .as(Seq("chunk", "ck")))
    val l = keyed.select(col(idCol).as("a"), col("sim0").as("sa0"),
      col("sim1").as("sa1"), col("chunk"), col("ck"))
    val r = keyed.select(col(idCol).as("b"), col("sim0").as("sb0"),
      col("sim1").as("sb1"), col("chunk"), col("ck"))
    l.join(r, Seq("chunk", "ck")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("sa0").bitwiseXOR(col("sb0"))) +
          bit_count(col("sa1").bitwiseXOR(col("sb1")))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
