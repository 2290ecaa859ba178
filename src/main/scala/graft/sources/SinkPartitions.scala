package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/**
 * The partition loop under every external sink ([[JdbcWrite]]'s batched
 * writes, staged loads and change applies; [[KvSink.write]]): one
 * connection or client per non-empty Spark partition, opened ON THE
 * EXECUTOR by `open` and closed when the partition is done, so write
 * parallelism is the partition count, which the caller sizes against the
 * target's connection budget (the reference's channel count,
 * JobContainer.java:416-486). Each sink keeps its own transaction shape
 * inside `write`. The loop is one Dataset action, not a job on `df.rdd`,
 * so the `Observation`s in the frame's plan resolve with the rows it wrote
 * (building `df.rdd` resolves them before any row is read).
 *
 * Delivery is AT-LEAST-ONCE, like the reference's channel replay after a
 * task failover: a task retry or a speculative duplicate re-runs its whole
 * partition's writes, so a sink's effect on its target must tolerate a
 * re-run. The returned totals are exact under retries: each partition's
 * two counts come back as its task's result through `collect`, and a
 * retried task's result REPLACES its predecessor's (accumulators would
 * count every re-run). A speculative duplicate racing the original is the
 * one case where two attempts both land, so disable speculation
 * (`spark.speculation=false`) for a sink whose effect is not idempotent.
 */
private[sources] object SinkPartitions {

  def counts[C <: AutoCloseable](df: DataFrame, open: () => C)(
      write: (C, Iterator[Row]) => (Long, Long)): (Long, Long) = {
    val parts = df.mapPartitions { (rows: Iterator[Row]) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val c = open()
        try Iterator.single(write(c, rows)) finally c.close()
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
