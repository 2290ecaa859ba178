package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Mutable last-writer-wins state: the highest (ts, lsn) seen and that
  * row's value struct (an owned UnsafeRow copy). */
final class LwwBuffer(var ts: Long, var lsn: Long, var value: UnsafeRow)

/**
 * Native LWW winner aggregate: `lww_winner(struct(cols), ts, lsn)` keeps the
 * row whose (ts, lsn) is largest — semantically `max_by(struct(cols),
 * struct(ts, lsn))`, but engineered for the merge hot path:
 *
 * `max_by`'s struct-typed declarative buffer is not hash-aggregatable, so
 * Catalyst plans the whole LWW reduce as a SortAggregate — every change
 * event gets SORTED by merge key before reduction. This
 * TypedImperativeAggregate keeps an 8+8-byte ordering plus one compact
 * UnsafeRow per key in ObjectHashAggregate's hash map: the reduce becomes
 * one hash probe + compare per event, no sort, up to the session's sort
 * fallback threshold (see `SnapTable.TaskKeyBudget`).
 *
 * Null ordering matches max_by: a null ts/lsn compares smallest (it can
 * only win when nothing else exists).
 */
case class LwwWinner(
    value: Expression, ts: Expression, lsn: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LwwBuffer] with TernaryLike[Expression] {

  // lazy: dataType is unresolvable until analysis binds the children
  @transient private lazy val valueSchema = value.dataType.asInstanceOf[StructType]
  private lazy val numFields = valueSchema.length

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ordOk = Seq(ts, lsn).forall(e =>
      e.dataType == LongType || e.dataType == TimestampType || e.dataType == TimestampNTZType)
    if (!value.dataType.isInstanceOf[StructType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lww_winner value must be a struct, got ${value.dataType.catalogString}")
    else if (!ordOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "lww_winner ordering columns must be timestamp/timestamp_ntz/bigint")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def first: Expression = value
  override def second: Expression = ts
  override def third: Expression = lsn

  override def dataType: DataType = value.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "lww_winner"

  @transient private lazy val toUnsafe = UnsafeProjection.create(valueSchema)

  override def createAggregationBuffer(): LwwBuffer =
    new LwwBuffer(Long.MinValue, Long.MinValue, null)

  private def ordLong(e: Expression, input: InternalRow): Long = {
    val v = e.eval(input)
    if (v == null) Long.MinValue else v.asInstanceOf[Long]
  }

  override def update(buf: LwwBuffer, input: InternalRow): LwwBuffer = {
    val t = ordLong(ts, input)
    val l = ordLong(lsn, input)
    if (buf.value == null || t > buf.ts || (t == buf.ts && l > buf.lsn)) {
      val v = value.eval(input).asInstanceOf[InternalRow]
      buf.value = toUnsafe(v).copy()
      buf.ts = t
      buf.lsn = l
    }
    buf
  }

  override def merge(buf: LwwBuffer, other: LwwBuffer): LwwBuffer = {
    if (other.value != null &&
        (buf.value == null || other.ts > buf.ts ||
          (other.ts == buf.ts && other.lsn > buf.lsn))) {
      buf.value = other.value
      buf.ts = other.ts
      buf.lsn = other.lsn
    }
    buf
  }

  override def eval(buf: LwwBuffer): Any = buf.value

  override def serialize(buf: LwwBuffer): Array[Byte] = {
    if (buf.value == null) Array.emptyByteArray
    else {
      val rowBytes = buf.value.getBytes
      val bb = ByteBuffer.allocate(16 + rowBytes.length)
      bb.putLong(buf.ts).putLong(buf.lsn).put(rowBytes)
      bb.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): LwwBuffer = {
    if (bytes.isEmpty) createAggregationBuffer()
    else {
      val bb = ByteBuffer.wrap(bytes)
      val t = bb.getLong
      val l = bb.getLong
      val row = new UnsafeRow(numFields)
      val rowBytes = java.util.Arrays.copyOfRange(bytes, 16, bytes.length)
      row.pointTo(rowBytes, rowBytes.length)
      new LwwBuffer(t, l, row)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LwwWinner =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LwwWinner =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LwwWinner =
    copy(value = newFirst, ts = newSecond, lsn = newThird)
}

object LwwWinner {
  /** Column factory: `lwwWinner(struct(cols), ts, lsn)`. */
  def lwwWinner(value: Column, ts: Column, lsn: Column): Column =
    GraftExprBridge.column(
      LwwWinner(GraftExprBridge.expression(value), GraftExprBridge.expression(ts),
        GraftExprBridge.expression(lsn)).toAggregateExpression())

  /** Per group of `keys`, the `cols` of the row with the largest (ts, lsn):
    * the one LWW reduce of the engine (merge, read-time MoR reduce, sync,
    * `Dedup.lww`). Keys that are not among `cols` lead the output. */
  def winners(df: DataFrame, keys: Seq[String], cols: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(lwwWinner(struct(cols.map(col): _*), col("ts"), col("lsn")).as("w"))
      .select(keys.filterNot(cols.contains).map(col) ++ cols.map(n => col(s"w.$n").as(n)): _*)
}
