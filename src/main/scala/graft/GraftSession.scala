package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's standard tuning. Local mode is a sandbox
 * stand-in for a multi-executor cluster: everything here (AQE, shuffle
 * partition sizing, broadcast threshold) is what we would set cluster-side.
 */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // Match local parallelism, not the 200 default (sized up on a real
      // cluster to ~2-3x total cores; AQE coalesces the excess).
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // the LWW reduce's memory bound: see SnapTable.TaskKeyBudget
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        graft.table.SnapTable.TaskKeyBudget.toString)
      // `file:` without libhadoop forks chmod per created file and readlink
      // per FileContext rename; these keep Hadoop's bits, .crc files and
      // link semantics without the forks (ForkFreeLocalFs.scala)
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  def get(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
