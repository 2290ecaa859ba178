package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
 * against the corpus. The dot product is dimension-specialized into a flat
 * `a[0]*b[0] + … + a[d-1]*b[d-1]` expression: unlike `zip_with`/`aggregate`
 * (which fall back to interpreted eval inside codegen — measured 100x slower
 * in the join hot path), element extraction + arithmetic stays inside
 * whole-stage codegen. Norms are computed once per vector before the join,
 * never per pair.
 *
 * Scale path: random-hyperplane LSH — each vector hashed to a `nbits`-bit
 * bucket in each of `tables` hash tables; candidates share a bucket in at
 * least one table. Candidate generation is an equi-join on (table, bucket) —
 * bucket-local search cost, never an n^2 product — the IVF-style pruning a
 * 100 TB corpus needs. Hyperplanes are seeded, deterministic, inlined as
 * literals.
 */
object Similarity {

  /** Dimension-specialized dot product — stays in whole-stage codegen.
    * Elements are cast scalar-wise: an array-level `cast("array<double>")`
    * gets inlined into consumers by projection collapse, re-converting the
    * whole array on EVERY getItem (measured 80s vs 3s on a 2M-pair join). */
  def dot(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map(i =>
      a.getItem(i).cast("double") * b.getItem(i).cast("double")).reduce(_ + _)

  def norm(a: Column, dim: Int): Column = sqrt(dot(a, a, dim))

  def cosine(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (norm(a, dim) * norm(b, dim))

  /** Pairwise scoring uses the single-node [[graft.functions.CosineSim]]
    * expression: the composed ~200-node formulation blows the codegen budget
    * once pushed into a join condition and drops to interpreted eval
    * (measured 65s vs ~2s on a 2M-pair join). */
  private def cosim = graft.functions.CosineSim.cosineSim _

  /**
   * Brute-force cosine top-k: every query (broadcast) against every corpus
   * row, rank per query. Exact; the oracle for the LSH variant.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = Parallelism.ensure(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosim(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Deterministic seeded hyperplanes: tables x nbits x dim, in [-1, 1).
    * Exposed within the package so the DuckDB oracle SQL can inline the
    * exact same plane constants (Double.toString round-trips exactly). */
  private[graft] def hyperplanes(tables: Int, nbits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(tables, nbits, dim) { (t, b, d) =>
      var z = seed + t * 1000003L + b * 10007L + d + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      z.toDouble / Long.MaxValue.toDouble
    }

  /**
   * Bucket assignments, one row per (id, tbl): `bkt` = int bucket from the
   * sign bits of `nbits` hyperplane projections.
   *
   * The (tables*nbits) hyperplanes are exploded from one constant-folded
   * literal array (a Generate, NO join) + a sign-bit aggregation — NOT as
   * one inlined mega-expression: tables*nbits*dim literal terms blow the
   * 64KB codegen method limit and force whole-plan interpreted eval
   * (measured ~100x slower). Exploding keeps every expression dim-sized and
   * codegen'd, the projection work data-parallel, and the plan free of any
   * nested-loop/cross join.
   */
  def lshBuckets(df: DataFrame, tables: Int, nbits: Int, dim: Int, seed: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(tables, nbits, dim, seed)
    val planeRows = for (t <- 0 until tables; b <- 0 until nbits) yield
      struct(lit(t).as("tbl"), lit(b).as("bit"),
        array(planes(t)(b).map(lit(_)).toIndexedSeq: _*).as("plane"))
    Parallelism.ensure(df).select(col(idCol), col(vecCol).as("__v"),
        explode(array(planeRows: _*)).as("pl"))
      .select(col(idCol), col("__v"), col("pl.tbl").as("tbl"), col("pl.bit").as("bit"),
        col("pl.plane").as("plane"))
      .withColumn("__proj", dot(col("__v"), col("plane"), dim))
      .groupBy(col(idCol), col("tbl"))
      .agg(sum(when(col("__proj") >= 0, expr("shiftleft(1, bit)")).otherwise(0))
        .cast("int").as("bkt"))
  }

  /**
   * Hash tables needed so a pair at cosine >= `minCos` shares at least one
   * bucket with probability >= 1 - `targetMiss`: per random hyperplane the
   * two vectors land on the same side with p_bit = 1 - acos(minCos)/pi, a
   * whole `nbits`-bit bucket matches with p_bit^nbits, and `tables`
   * independent tables miss together with (1 - p_bit^nbits)^tables. The one
   * recall knob both ANN entry points share.
   */
  def lshTablesFor(minCos: Double, nbits: Int, targetMiss: Double): Int = {
    require(minCos > -1.0 && minCos < 1.0, s"minCos $minCos outside (-1, 1)")
    val pBit = 1.0 - math.acos(minCos) / math.Pi
    val pBucket = math.pow(pBit, nbits)
    math.min(256, math.max(1,
      math.ceil(math.log(targetMiss) / math.log1p(-pBucket)).toInt))
  }

  /**
   * IVF (inverted-file) ANN top-k — the second scale path next to
   * [[lshTopK]]: coarse-quantize the corpus against a small deterministic
   * centroid set (every `centroidStride`-th id — at real scale a k-means
   * refinement slots into the same plan), build the inverted lists as a
   * cluster-assignment table, then probe each query's `nprobe` nearest
   * clusters and rank exactly within the probed candidates.
   *
   * Plan shape at 10^10 rows: assignment is a broadcast nested-loop of
   * corpus x centroids whose per-id argmax reduces MAP-SIDE (max_by
   * partials — the shuffle carries n rows, not n*k; a window here would
   * shuffle the full n*k cross product), candidates come from an EQUI-join
   * on the cluster id (bounded by inverted-list sizes, never n^2), and the
   * final exact rank touches only probed candidates. Recall is governed by
   * nprobe/centroids — verified against [[bruteForceTopK]] in
   * OperatorsSpec.
   *
   * `lloydIters` > 0 refines the stride seed with that many k-means (Lloyd)
   * iterations before building the lists, entirely in DataFrame algebra:
   * assignment is the same broadcast argmax, the update is one groupBy with
   * `dim` per-dimension avg aggregates (no explode — the shuffle carries
   * one partial-mean row per (cluster, map partition), never n*dim rows).
   * Deterministic: seeded stride init, fixed iteration count, centroid
   * components rounded so float-sum partial order can't flip an argmax tie.
   * Near-duplicate seed centroids collapse onto the same mean and their
   * lists unify under the smallest cid (cosine ties break on -cid), so the
   * probed lists align with the REAL clusters — the recall-vs-brute gain on
   * a skewed corpus is property-tested in OperatorsSpec.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      centroidStride: Int = 10, nprobe: Int = 4, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpusPar = Parallelism.ensure(corpus)
    var cent0 = corpus
      .filter(pmod(col(idCol), lit(centroidStride)) === 0)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    for (_ <- 0 until lloydIters) {
      val assigned = corpusPar.select(col(idCol), col(vecCol).as("__v"))
        .crossJoin(broadcast(cent0))
        .withColumn("__ccos", cosim(col("__v"), col("cvec")))
        .groupBy(col(idCol))
        .agg(max_by(col("cid"), struct(col("__ccos"), -col("cid"))).as("cid"),
          first(col("__v")).as("__v"))
      cent0 = assigned.groupBy("cid")
        .agg(array((0 until dim).map(i =>
          round(avg(col("__v").getItem(i).cast("double")), 8)): _*)
          .cast("array<float>").as("cvec"))
    }
    val cent = broadcast(cent0)
    def scoredAgainstCentroids(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId), col(vecCol).as("__v"))
        .crossJoin(cent)
        .withColumn("__ccos", cosim(col("__v"), col("cvec")))
    // inverted lists: argmax centroid per corpus row, tie on smaller cid
    val lists = scoredAgainstCentroids(corpusPar, "neighbor_id")
      .groupBy("neighbor_id")
      .agg(max_by(col("cid"), struct(col("__ccos"), -col("cid"))).as("cid"))
    // query probes: nprobe nearest clusters (query set is small — window)
    val wp = Window.partitionBy("query_id").orderBy(col("__ccos").desc, col("cid"))
    val probes = scoredAgainstCentroids(queries, "query_id")
      .withColumn("__r", row_number().over(wp)).filter(col("__r") <= nprobe)
      .select("query_id", "cid")
    val cand = probes.join(lists, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = cand.join(q, "query_id").join(c, "neighbor_id")
      .withColumn("cos", cosim(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * LSH ANN top-k: candidates = corpus rows sharing any hash-table bucket
   * with the query, then exact cosine rank within candidates. Recall vs
   * [[bruteForceTopK]] is property-tested; tables/nbits trade recall for
   * bucket size. Passing `minCos` sizes the table count from
   * [[lshTablesFor]] (recall target) instead of the fixed `tables` — the
   * same auto-sizing [[nearDupPairs]] uses.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      tables: Int = 8, nbits: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      minCos: Option[Double] = None, targetMiss: Double = 1e-6): DataFrame = {
    val nTables = minCos.map(c => lshTablesFor(c, nbits, targetMiss)).getOrElse(tables)
    def melt(df: DataFrame, id: String, vec: String) = {
      val b = lshBuckets(df, nTables, nbits, dim, seed, idCol, vecCol)
        .withColumnRenamed(idCol, id)
      df.select(col(idCol).as(id), col(vecCol).as(vec)).join(b, id)
    }
    val cm = melt(corpus, "neighbor_id", "cv")
    val qm = broadcast(melt(queries, "query_id", "qv"))
    val cand = cm.join(qm, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv").distinct()
    val scored = cand.withColumn("cos", cosim(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /**
   * All pairs (a < b) with cosine >= threshold — embedding near-dup
   * detection with COST-BASED strategy selection (the broadcast-vs-shuffle
   * decision of pair generation):
   *
   *  - `"exact"`: the O(n^2) codegen'd pair join — optimal below ~10^4..10^5
   *    vectors where n^2 cheap cosines beat any candidate machinery;
   *  - `"lsh"`: hyperplane bucket equi-join candidates + exact verify — the
   *    only shape that survives 10^8+ vectors. Tables are auto-sized so a
   *    pair AT the threshold is missed with probability <= `targetMiss`
   *    (p_bit = 1 - acos(t)/pi; tables = ln(miss)/ln(1 - p_bit^nbits)):
   *    107 tables at the pathological threshold 0.4, 24 at a realistic
   *    near-dup threshold 0.9. Recall verified exhaustively on the fixtures
   *    (59/59, 66/66) and oracle-gated in CORRECTNESS.
   *  - `"auto"` (default): exact while n <= `exactCutoff`, LSH beyond —
   *    measured crossover on this host is >> 10^4 for low thresholds
   *    (at n=5000/t=0.4, exact 1.3s vs LSH 19s: near-threshold-0.4 pairs
   *    collide in a constant fraction of buckets, so candidate mass ~ n^2
   *    with a large constant; at t>=0.8 LSH wins earlier).
   */
  def nearDupPairs(df: DataFrame, threshold: Double, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nbits: Int = 4, seed: Long = 42L, targetMiss: Double = 1e-8,
      strategy: String = "auto", exactCutoff: Long = 100000L,
      rowHint: Option[Long] = None): DataFrame = {
    strategy match {
      case "exact" => nearDupPairsExact(df, threshold, dim, idCol, vecCol)
      case "auto" =>
        // `rowHint` lets a caller that already knows the size (a table's
        // manifest row count, a bench harness) skip the sizing count() job
        val n = rowHint.getOrElse(df.count())
        if (n <= exactCutoff) nearDupPairsExact(df, threshold, dim, idCol, vecCol)
        else nearDupPairs(df, threshold, dim, idCol, vecCol, nbits, seed, targetMiss, "lsh")
      case "lsh" =>
        val tables = lshTablesFor(threshold, nbits, targetMiss)
        val b = lshBuckets(df, tables, nbits, dim, seed, idCol, vecCol)
        val l = b.select(col(idCol).as("a"), col("tbl"), col("bkt"))
        val r = b.select(col(idCol).as("b"), col("tbl"), col("bkt"))
        val cand = l.join(r, Seq("tbl", "bkt")).filter(col("a") < col("b"))
          .select("a", "b").distinct()
        val vecs = df.select(col(idCol), col(vecCol))
        cand
          .join(vecs.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
          .join(vecs.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
          .withColumn("cos", cosim(col("va"), col("vb")))
          .filter(col("cos") >= threshold)
          .select("a", "b", "cos")
      case other => throw new IllegalArgumentException(s"strategy '$other'")
    }
  }

  /** Exhaustive all-pairs near-dup — O(n^2); the in-suite oracle for
    * [[nearDupPairs]], never the production path. */
  def nearDupPairsExact(df: DataFrame, threshold: Double, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = Parallelism.ensure(df).select(col(idCol).as("a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("b"), col(vecCol).as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos", cosim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }
}
