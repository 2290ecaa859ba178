package graft.operators

import org.apache.spark.sql.DataFrame

private[operators] object Parallelism {

  /** Hashing, sketching and scoring are CPU-bound per row, but a small
    * corpus often arrives as ONE parquet row group, which serializes the
    * whole pipeline on one core at test scale. Fan the rows out when the
    * scan's parallelism is under half the cluster's; do nothing at real
    * scale, where thousands of input splits already exceed the core count
    * (a blanket repartition would shuffle the full corpus). */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
}
