package graft

import graft.functions.DataXTransforms._
import graft.operators.{Multimodal, Similarity, TextAnalysis, TextDedup}
import graft.table.SchemaEvolution
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  // the session is shared JVM-wide: release the fixtures for later suites
  override def afterAll(): Unit =
    try { docs.unpersist(); emb.unpersist(): Unit } finally super.afterAll()

  // ---- DataX transform parity (vectors from transformer/doc semantics) ----

  test("dx_substr null and bounds semantics") {
    val df = Seq(Some("hello world"), Some("hi"), None).toDF("s")
    val got = df.select(dxSubstr(col("s"), 3, 4)).as[Option[String]].collect().toSeq
    assert(got == Seq(Some("lo w"), None, None)) // "hi".length < 3 -> dirty/null
  }

  test("dx_pad truncates and pads, null as empty") {
    val df = Seq(Some("abcdef"), Some("x"), None).toDF("s")
    assert(df.select(dxPad(col("s"), "l", 4, "*")).as[String].collect().toSeq ==
      Seq("abcd", "***x", "****"))
    assert(df.select(dxPad(col("s"), "r", 4, "*")).as[String].collect().toSeq ==
      Seq("abcd", "x***", "****"))
  }

  test("dx_replace splice semantics") {
    val df = Seq("abcdefgh").toDF("s")
    assert(df.select(dxReplace(col("s"), 2, 3, "XY")).as[String].head() == "abXYfgh")
    // replace past end: suffix empty
    assert(df.select(dxReplace(col("s"), 6, 10, "Z")).as[String].head() == "abcdefZ")
  }

  test("dx_filter null rules differ from SQL 3VL") {
    val df = Seq(Some("5"), Some("15"), None).toDF("v")
    // range compare: null never matches -> never dropped
    val kept = df.filter(!dxFilterPred(col("v"), ">", "10")).as[Option[String]].collect().toSeq
    assert(kept == Seq(Some("5"), None))
    // = "null" matches only null
    val keptEq = df.filter(!dxFilterPred(col("v"), "=", "null")).as[Option[String]].collect().toSeq
    assert(keptEq == Seq(Some("5"), Some("15")))
    // like is full-match regex
    val df2 = Seq("click", "clickstream", "view").toDF("v")
    assert(df2.filter(dxFilterPred(col("v"), "like", "cl.*k")).as[String].collect().toSeq ==
      Seq("click"))
  }

  test("cast ladder parses multiple formats; garbage -> null") {
    val df = Seq("2024-03-01 10:20:30", "2024-03-01", "2024/03/01", "20240301", "nope")
      .toDF("s")
    val got = df.select(unix_micros(castLadderTimestamp(col("s")))).collect().map(r =>
      if (r.isNullAt(0)) -1L else r.getLong(0))
    val day = 1709251200000000L // 2024-03-01T00:00:00Z
    assert(got.toSeq == Seq(day + (10 * 3600 + 20 * 60 + 30) * 1000000L, day, day, day, -1L))
  }

  test("checked long overflow -> null (dirty), not wrap") {
    val df = Seq("9223372036854775807", "99999999999999999999", "12").toDF("s")
    val got = df.select(checkedLong(col("s"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(Long.MaxValue), None, Some(12L)))
  }

  test("transform chain applies sequentially with filters") {
    val df = Seq(("click", "aaaa"), ("view", "bbbb")).toDF("t", "p")
    val out = applyChain(df, Seq(
      Filter("t", "like", "cl.*"), // drops 'click'
      Pad("p", "l", 6, "0")))
    assert(out.as[(String, String)].collect().toSeq == Seq(("view", "00bbbb")))
  }

  // ---- schema evolution ---------------------------------------------------

  test("schema widening lattice") {
    assert(SchemaEvolution.widen(IntegerType, LongType).contains(LongType))
    assert(SchemaEvolution.widen(ShortType, IntegerType).contains(IntegerType))
    assert(SchemaEvolution.widen(FloatType, DoubleType).contains(DoubleType))
    assert(SchemaEvolution.widen(IntegerType, DoubleType).contains(DoubleType))
    assert(SchemaEvolution.widen(DateType, TimestampType).contains(TimestampType))
    assert(SchemaEvolution.widen(StringType, LongType).isEmpty)
    val table = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val batch = StructType(Seq(StructField("a", LongType), StructField("c", StringType)))
    val m = SchemaEvolution.merge(table, batch)
    assert(m.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(m("a").dataType == LongType)
    intercept[IllegalArgumentException] {
      SchemaEvolution.merge(table,
        StructType(Seq(StructField("b", LongType))))
    }
  }

  // ---- text dedup ---------------------------------------------------------

  test("minhash LSH pairs == exact jaccard pairs on fixture") {
    val exact = TextDedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = TextDedup.minhashLshPairs(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact)
  }

  test("exact jaccard pairs leave nothing cached once collected") {
    spark.catalog.clearCache() // this suite's fixture frames are cached
    val fresh = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, pairs) <- Seq[(String, DataFrame => DataFrame)](
        "ngramJaccardPairs" -> (TextDedup.ngramJaccardPairs(_, threshold = 0.5)),
        "ngramJaccardPrefixPairs" -> (TextDedup.ngramJaccardPrefixPairs(_, threshold = 0.5)),
        "minhashLshPairs" -> (TextDedup.minhashLshPairs(_, threshold = 0.5)))) {
      assert(pairs(fresh).collect().nonEmpty, name)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name pinned a relation in the session's CacheManager")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$name left an RDD persisted")
    }
  }

  test("prefix-filtered jaccard join == brute-force jaccard join") {
    // the prefix filter is lossless: identical (a, b, jaccard) output,
    // only the candidate generation changes (rarest-gram prefixes)
    val brute = TextDedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val prefix = TextDedup.ngramJaccardPrefixPairs(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    assert(prefix == brute)
    // and at a second threshold (different prefix lengths)
    val brute8 = TextDedup.ngramJaccardPairs(docs, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val prefix8 = TextDedup.ngramJaccardPrefixPairs(docs, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(prefix8 == brute8)
  }

  test("prefix jaccard join == independent scala oracle on random corpora") {
    // seeded-random property check against an INDEPENDENT plain-Scala
    // implementation (not the other Spark path): dense small-vocab corpora
    // with planted dups, short docs (< k words), identical texts, and
    // thresholds chosen to sit on rational boundaries (FP-hardening)
    val k = 3
    def shingleSet(text: String): Set[String] = {
      val w = text.trim.split("\\s+").toSeq
      if (w.size >= k) w.sliding(k).map(_.mkString(" ")).toSet else Set(text)
    }
    for ((seed, t) <- Seq((1, 0.5), (2, 0.3), (3, 0.75), (4, 1.0), (5, 2.0 / 3.0))) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      def doc(): String =
        (0 until (1 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0 until 60).map(i => (i.toLong, doc()))
      // planted: exact copies and one-word edits of random docs
      val planted = (0 until 15).map { i =>
        val (_, txt) = base(rnd.nextInt(base.size))
        val words = txt.split(" ")
        val edited = if (i % 3 == 0 || words.length < 2) txt
          else words.updated(rnd.nextInt(words.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (1000L + i, edited)
      }
      val corpus = base ++ planted
      val expected = (for {
        (a, ta) <- corpus; (b, tb) <- corpus if a < b
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter) if j >= t
      } yield (a, b)).toSet
      val df = corpus.toDF("doc_id", "text")
      val got = TextDedup.ngramJaccardPrefixPairs(df, threshold = t)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"seed=$seed t=$t missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("simhash finds the planted near-dups") {
    val planted = TextDedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // maxHamming 24 here = the same 20% relative hamming budget the old
    // 60-bit/maxHamming-12 setting had: the pairs path auto-widens any
    // sub-12-bit-chunk request to the 120-bit signature at an ABSOLUTE
    // hamming budget, so the budget scales with the signature
    val sim = TextDedup.simhashPairs(docs, maxHamming = 24)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // simhash measures token-multiset similarity: expect high recall of the
    // jaccard-planted pairs
    val recall = planted.count(sim.contains).toDouble / planted.size
    assert(recall >= 0.8, s"simhash recall $recall")
  }

  test("simhash blocking plan keeps chunk keys >= 12 bits through maxHamming 9") {
    for (mh <- 0 to 9) {
      val (bits, bitsPer) = TextDedup.simhashBlocking(mh)
      assert(bitsPer >= TextDedup.MinChunkBits,
        s"maxHamming=$mh -> $bits-bit signature with $bitsPer-bit chunks")
    }
    // the narrow signature is kept when its chunks are already wide enough
    assert(TextDedup.simhashBlocking(3) == (60, 15))
    // q_simhash's setting: widened, 13-bit chunks
    assert(TextDedup.simhashBlocking(8) == (120, 13))
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val fp = df.select(TextAnalysis.fingerprint(col("text")).as("f"))
      .groupBy("f").count().as[(String, Long)].collect().toMap
    assert(fp.values.toSeq.sorted == Seq(1L, 2L))
  }

  // ---- similarity ---------------------------------------------------------

  test("LSH ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, k = 10, dim = 64,
        tables = 16, nbits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // synthetic embeddings are near-orthogonal (top-10 cosine ~0.3) — the
    // hardest case for hyperplane LSH; 16 tables x 4 bits still recalls most
    assert(recall >= 0.7, s"ANN recall $recall too low")
  }

  test("lshTopK recall target sizes tables like nearDupPairs (shared helper)") {
    // the closed-form bound: at minCos the computed table count must push the
    // miss probability under target
    val nbits = 4
    val target = 1e-4
    val tables = Similarity.lshTablesFor(0.5, nbits, target)
    val pBit = 1.0 - math.acos(0.5) / math.Pi
    val missAt = math.pow(1.0 - math.pow(pBit, nbits), tables)
    assert(missAt <= target, s"$tables tables leave miss $missAt > $target")
    assert(Similarity.lshTablesFor(0.9, nbits, target) < tables,
      "higher similarity must need fewer tables")

    // recall driven by the target, not a hand-tuned table count: every
    // true neighbor at cosine >= minCos must be found (n_pairs * miss << 1)
    val queries = emb.filter(col("vec_id") < 20)
    val minCos = 0.3
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, k = 10, dim = 64,
        nbits = nbits, minCos = Some(minCos), targetMiss = 1e-6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = if (exact.isEmpty) 1.0 else exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.99, s"recall $recall below the computed-table bound")
  }

  test("IVF ANN recall vs brute force; plan has no shuffled cross product") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, dim = 64,
      centroidStride = 10, nprobe = 4)
    val approx = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the synthetic embeddings are nearly isotropic (little cluster
    // structure for a coarse quantizer to exploit), so the absolute bound
    // is modest — still ~5x better than the 4/50 random-probe floor; the
    // load-bearing correctness check is the nprobe=ALL equivalence below
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.25, s"IVF recall $recall below the 4-of-50-cluster bound")
    // raising nprobe must not lose neighbors (monotone recall)
    val wide = Similarity.ivfTopK(emb, queries, k = 5, dim = 64,
        centroidStride = 10, nprobe = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(wide == exact, "probing every cluster must equal brute force")
    // the centroid scoring is a broadcast nested loop, never a shuffled
    // cartesian: no CartesianProduct operator in the physical plan
    val plan = ivf.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"shuffled cross product:\n$plan")
  }

  test("IVF Lloyd refinement beats stride seeding on a skewed clustered corpus") {
    // 16 well-separated direction clusters with quadratically skewed sizes:
    // stride seeding lands centroids on NOISY members (and misses small
    // clusters entirely); two Lloyd iterations move them to cluster means,
    // so the inverted lists align with the real clusters and probing the
    // same nprobe lists recalls more true neighbors. Fully deterministic
    // fixture (seeded), fixed iteration count.
    val rnd = new scala.util.Random(7)
    val dim = 32
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val sizes = (0 until 16).map(j => 8 + j * j) // 8..233 per cluster
    val pts = for (j <- 0 until 16; _ <- 0 until sizes(j)) yield
      Array.tabulate(dim)(d => centers(j)(d) + 0.5f * rnd.nextGaussian().toFloat)
    // deterministic shuffle so stride sampling is cluster-blind
    val corpus = rnd.shuffle(pts).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 40)
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(iters: Int): Double = {
      val got = Similarity.ivfTopK(corpus, queries, k = 10, dim = dim,
          centroidStride = 64, nprobe = 2, lloydIters = iters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val stride = recallAt(0)
    val refined = recallAt(2)
    info(f"IVF recall at nprobe=2: stride-seeded $stride%.3f -> Lloyd-refined $refined%.3f")
    assert(refined > stride,
      f"Lloyd refinement must improve recall at equal nprobe: " +
        f"stride $stride%.3f vs refined $refined%.3f")
    // and the refinement is reproducible run-to-run
    assert(recallAt(2) == refined, "Lloyd refinement must be deterministic")
  }

  test("cosine expression matches scala computation") {
    val rows = emb.limit(3).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val df = Similarity.nearDupPairsExact(emb.limit(3), threshold = -1.0)
      .as[(Long, Long, Double)].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    df.foreach { case (a, b, c) =>
      val va = rows.find(_._1 == a).get._2
      val vb = rows.find(_._1 == b).get._2
      assert(math.abs(c - cos(va, vb)) < 1e-9)
    }
  }

  // ---- text analysis ------------------------------------------------------

  test("language id picks stopword-rich language, und on none") {
    val df = Seq(
      "the cat is in the house and it is happy",
      "der hund ist nicht zu hause und das ist gut",
      "xyzzy qwerty asdf").toDF("text")
    val got = df.select(TextAnalysis.languageId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("token and word counts") {
    val df = Seq("Hello, world! 42", "", "  a  b  ").toDF("text")
    val got = df.select(TextAnalysis.tokenCount(col("text")),
      TextAnalysis.wordCount(col("text"))).as[(Int, Int)].collect().toSeq
    // tokens: [Hello][,][world][!][42] = 5
    assert(got == Seq((5, 3), (0, 0), (2, 2)))
  }

  // ---- multimodal plumbing ------------------------------------------------

  test("multimodal feature extraction plumbing (stubbed decode)") {
    val media = Multimodal.syntheticMedia(docs).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == docs.count())
    val f = feats.head()
    assert(f.feature.length == 16)
    assert(math.abs(f.feature.sum - 1.0f) < 1e-3, "histogram features sum to 1")
    assert(f.byte_entropy > 0)
    val frames = Multimodal.frameSample(spark, Multimodal.syntheticMedia(docs), 4)
    assert(frames.count() == docs.count() * 4)
    assert(frames.select("frame_hash").distinct().count() > docs.count())
  }
}
