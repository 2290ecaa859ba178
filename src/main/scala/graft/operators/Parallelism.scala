package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

private[operators] object Parallelism {

  /** Hashing, sketching and scoring are CPU-bound per row, but a small
    * corpus often arrives as ONE parquet row group, which serializes the
    * whole pipeline on one core at test scale. Fan the rows out when the
    * scan's parallelism is under half the cluster's; do nothing at real
    * scale, where thousands of input splits already exceed the core count
    * (a blanket repartition would shuffle the full corpus). A frame with no
    * file input (in-memory rows) is left as it is. */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df).exists(_ * 2 <= target)) df.repartition(target) else df
  }

  /** The splits Spark's file scan plans for `df`'s file relations, worked
    * out the way the scan does it (split size from the input size and the
    * core count, files cut at it, then packed largest first) but from the
    * file index alone, so no RDD is planned and no code generated. None
    * when the frame reads no files. The operators receive scans, filters
    * and projections, whose partitions are exactly these splits (a cached
    * frame keeps the splits it was cached with). */
  private[operators] def scanSplits(df: DataFrame): Option[Int] = {
    val perRelation = df.queryExecution.analyzed.collectLeaves().collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        val dirs = r.location.listFiles(Nil, Nil)
        val maxSplit = FilePartition.maxSplitBytes(r.sparkSession, dirs)
        val pieces = for (d <- dirs; f <- d.files) yield PartitionedFileUtil.splitFiles(
          f, f.getPath, r.fileFormat.isSplitable(r.sparkSession, r.options, f.getPath),
          maxSplit, d.values)
        FilePartition.getFilePartitions(r.sparkSession,
          pieces.flatten.sortBy(-_.length), maxSplit).size
    }
    if (perRelation.isEmpty) None else Some(perRelation.sum)
  }
}
