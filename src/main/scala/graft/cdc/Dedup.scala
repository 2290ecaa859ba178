package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Last-writer-wins deduplication of change events: per key, keep the event
 * with max (ts, lsn). Ties break on lsn, never on arrival order (SURVEY.md
 * §7.4 risk 3), so duplicated / shuffled delivery of the same event multiset
 * reduces to the same winner set — the invariant the conformance property
 * tests assert.
 */
object Dedup {

  /**
   * Single-pass LWW reduce over (ts, lsn) through the native `lww_winner`
   * aggregate, the same reduce every snapshot-table write and read runs.
   * ObjectHashAggregate performs a map-side partial before the shuffle
   * (two-phase reduce for free), so per-key skew only costs shuffle-side
   * merge of tiny partials, and nothing is sorted.
   */
  def lww(df: DataFrame, keys: Seq[String] = Seq("conv_id", "turn_idx")): DataFrame =
    graft.functions.LwwWinner.winners(df, keys, df.columns.toSeq)

  /**
   * Explicit salted two-phase LWW for pathological key skew: a hot key's
   * events first reduce within `salt` sub-groups (spreading one key over
   * `salt` reducers), then the `salt` partials reduce to one winner.
   * Associative + commutative by construction (max over a total order), so
   * it is exactly equivalent to [[lww]]; `q_cdc_lww_salted` checks it
   * against its DuckDB oracle.
   *
   * Reference analogue: DataX spreads one hot source over channels via task
   * splitting (reference: core/.../container/util/JobAssignUtil.java:20-57);
   * here the salt column is the unit of spreading.
   */
  def lwwSalted(df: DataFrame, keys: Seq[String] = Seq("conv_id", "turn_idx"),
      order: Seq[String] = Seq("ts", "lsn"), salt: Int = 16): DataFrame = {
    val dataCols = df.columns.toSeq
    val w = struct(dataCols.map(col): _*)
    val o = struct(order.map(col): _*)
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(order.last)), lit(salt)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(max_by(w, o).as("w"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(max_by(col("w"), struct(order.map(n => col(s"w.$n")): _*)).as("w"))
      .select(dataCols.map(n => col(s"w.$n").as(n)): _*)
  }
}
