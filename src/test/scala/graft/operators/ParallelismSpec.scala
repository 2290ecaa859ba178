package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class ParallelismSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A fresh copy of a fixture table in `files` files: other suites cache
    * the fixture paths in the shared session, and a cached frame keeps the
    * partitions it was cached with. */
  private def copyOf(table: String, files: Int): org.apache.spark.sql.DataFrame = {
    val dir = tmpDir("graft-par")
    spark.read.parquet(s"$sf/$table.parquet").repartition(files)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The estimate must equal the partition count the scan really plans. */
  private def assertMatchesScan(df: org.apache.spark.sql.DataFrame): Unit =
    assert(Parallelism.scanSplits(df).contains(df.rdd.getNumPartitions))

  test("split estimate equals the scan's partitions: one file, many files, filtered") {
    val docs = copyOf("documents", 1)
    assertMatchesScan(docs)
    assertMatchesScan(docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    assertMatchesScan(copyOf("documents", 12))
  }

  test("split estimate equals the scan's partitions: one file cut into many splits") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    try {
      val emb = copyOf("embeddings", 1)
      assert(emb.inputFiles.length == 1)
      assert(emb.rdd.getNumPartitions > 4, "fixture should split at 16k")
      assertMatchesScan(emb)
      assert(Parallelism.ensure(emb) eq emb, "a file already in many splits is not shuffled")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a frame that reads no files has no split estimate and is left as it is") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(Parallelism.scanSplits(df).isEmpty)
    assert(Parallelism.ensure(df) eq df)
  }
}
