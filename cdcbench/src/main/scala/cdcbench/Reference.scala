package cdcbench

import org.apache.spark.sql.{DataFrame, Row}

/** One change event as the reference sees it. `chunk` is the delivery unit
  * that carried it (-1 for the bulk changelog). */
final case class Ev(convId: String, turnIdx: Long, role: String, text: String,
    tool: String, ts: java.sql.Timestamp, lsn: Long, op: String, chunk: Int) {
  def key: (String, Long) = (convId, turnIdx)
  /** The envelope rules a change event must pass to be applied. */
  def valid: Boolean = convId != null && convId.nonEmpty && ts != null &&
    (op == "I" || op == "U" || op == "D")
  def payload: Seq[Any] = Seq(convId, turnIdx, role, text, tool, ts, lsn)
}

/**
 * The expected table state, computed without the table or its LWW aggregate:
 * a plain fold keeping, per `(conv_id, turn_idx)`, the event with the max
 * `(ts, lsn)`; a delete winner is absent from the table.
 */
final class Reference {
  private val winners = scala.collection.mutable.HashMap.empty[(String, Long), Ev]

  private def newer(a: Ev, b: Ev): Boolean = {
    val c = a.ts.compareTo(b.ts)
    if (c != 0) c > 0 else a.lsn > b.lsn
  }

  def apply(events: Iterable[Ev]): Unit = events.foreach { e =>
    if (e.valid) winners.get(e.key) match {
      case Some(w) if !newer(e, w) => ()
      case _ => winners.update(e.key, e)
    }
  }

  /** The live row for a key, or None when it is absent or deleted. */
  def live(key: (String, Long)): Option[Ev] = winners.get(key).filter(_.op != "D")

  def liveRows: Iterable[Ev] = winners.values.filter(_.op != "D")

  def digest: Stats.Digest = Stats.digest(liveRows.map(_.payload))
}

object Reference {
  val payloadCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")

  /** Collect a changelog frame (envelope columns) into this JVM. */
  def collect(df: DataFrame, chunk: Int): Array[Ev] =
    df.select((payloadCols :+ "op").map(org.apache.spark.sql.functions.col): _*)
      .collect().map { r =>
        Ev(r.getString(0), if (r.isNullAt(1)) -1L else r.getAs[Number](1).longValue,
          r.getString(2), r.getString(3), r.getString(4),
          r.getTimestamp(5), r.getLong(6), r.getString(7), chunk)
      }

  /** Payload cells of a table row, in the reference's encoding. */
  def payloadOf(r: Row): Seq[Any] = payloadCols.map { c =>
    r.get(r.fieldIndex(c)) match {
      case n: java.lang.Integer => n.longValue
      case other => other
    }
  }

  /** Digest of a table frame's payload columns. */
  def digestOf(df: DataFrame): Stats.Digest =
    Stats.digest(df.select(payloadCols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(payloadOf))
}
