package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * Streaming MANIFEST source for an append-only, chunk-per-directory
 * changelog (`<root>/chunk=00000/...parquet`): each micro-batch emits one
 * row per data FILE of the newly-arrived chunk directories — (chunk, path,
 * bytes) — and the pipeline reads the listed files itself.
 *
 * Why this exists: Spark's built-in file streaming source re-lists the
 * whole tree every trigger and holds every seen file in a driver-side map —
 * at 10^6+ changelog files the listing and the map dominate trigger
 * latency. Here the OFFSET is the last consumed chunk-directory name, so a
 * trigger costs one listing of the top-level chunk dirs (one call, O(chunks)
 * names, not O(files)) plus a `_SUCCESS` probe and a listing of only the
 * NEW chunks, and there is no seen-file state at all. This is the
 * Spark-native shape of the reference's stream-reader master planning
 * shards and handing each worker a bounded range (reference:
 * otsstreamreader/.../core/OTSStreamReaderMasterProxy.java:78-107).
 *
 * Contract: chunk directory names under the root are lexicographically
 * monotone in arrival order (zero-padded, as the generator writes them),
 * a chunk is immutable once its `_SUCCESS` marker exists, and only marked
 * chunks are admitted — a writer mid-chunk is simply not visible yet.
 *
 * Exactly-once composes the usual way: the checkpointed chunk offset gives
 * at-least-once manifest delivery, and the snapshot table's epoch guard
 * makes the replayed merge a no-op.
 */
class ChunkLedgerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkLedgerSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // properties arrive with the caller's original key case
    val opts = new CaseInsensitiveStringMap(properties)
    new ChunkLedgerTable(opts.get("path"),
      Option(opts.get("maxChunksPerTrigger")).map(_.toInt).getOrElse(1))
  }
}

object ChunkLedgerSource {
  val schema: StructType = new StructType()
    .add("chunk", StringType).add("path", StringType).add("bytes", LongType)
}

private[streaming] class ChunkLedgerTable(root: String, maxChunksPerTrigger: Int)
    extends Table with SupportsRead {
  require(root != null, "ChunkLedgerSource needs a 'path' option")
  override def name(): String = s"chunk_ledger($root)"
  override def schema(): StructType = ChunkLedgerSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChunkLedgerSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChunkLedgerStream(root, maxChunksPerTrigger)
      }
    }
}

/** Offset = name of the last fully-consumed chunk directory ("" = none). */
private[streaming] case class ChunkOffset(lastChunk: String) extends Offset {
  override def json: String =
    s"""{"lastChunk":"${lastChunk.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
}

private[streaming] class ChunkLedgerStream(root: String, maxChunksPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Resolved once per stream, as Spark's FileStreamSource does, with the
    * session's Hadoop conf. */
  private lazy val fs =
    new Path(root).getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  /** Chunk dir names, sorted: one top-level listing. */
  private def chunkNames(): IndexedSeq[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return IndexedSeq.empty
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath.getName).sorted.toIndexedSeq
  }

  private def isComplete(chunk: String): Boolean =
    fs.exists(new Path(new Path(root, chunk), "_SUCCESS"))

  /** Committed (complete, `_SUCCESS`-marked) chunks after `from`, in order.
    * Lazy: `_SUCCESS` is probed only for names past the consumed offset,
    * and only as far as the caller reads, so a trigger's FS calls do not
    * grow with the number of chunks already consumed. */
  private def completeChunksAfter(from: String): Iterator[String] =
    chunkNames().iterator.filter(_ > from).filter(isComplete)

  /** Newest committed chunk ("" = none), walking back from the newest name. */
  private def newestComplete(): String =
    chunkNames().reverseIterator.find(isComplete).getOrElse("")

  /** Pinned end for Trigger.AvailableNow: everything present at prepare
    * time is drained (across as many rate-limited batches as needed) and
    * nothing admitted past it. */
  @volatile private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(newestComplete())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = ChunkOffset("")

  override def deserializeOffset(json: String): Offset = {
    // minimal parse of the single-field object this class itself writes
    val m = """\{"lastChunk":"(.*)"\}""".r
    json match {
      case m(v) => ChunkOffset(v.replace("\\\"", "\"").replace("\\\\", "\\"))
      case other => throw new IllegalArgumentException(s"bad ChunkOffset json: $other")
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChunkOffset].lastChunk
    val fresh = completeChunksAfter(from)
    val capped = availableNowTarget match {
      case Some(target) => fresh.takeWhile(_ <= target)
      case None => fresh
    }
    // `limit` is always all-available: the engine passes a source its own
    // default limit, or all-available under a one-time trigger, so the
    // chunk cap is the whole admission
    val admitted = capped.take(math.max(1, maxChunksPerTrigger)).toSeq
    if (admitted.isEmpty) start else ChunkOffset(admitted.last)
  }

  override def reportLatestOffset(): Offset = ChunkOffset(newestComplete())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ChunkOffset].lastChunk
    val to = end.asInstanceOf[ChunkOffset].lastChunk
    completeChunksAfter(from).takeWhile(_ <= to).map { c =>
      val files = fs.listStatus(new Path(new Path(root), c))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(s => (s.getPath.toString, s.getLen))
      ChunkPartition(c, files): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = ChunkReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[streaming] case class ChunkPartition(chunk: String,
    files: Array[(String, Long)]) extends InputPartition

private[streaming] object ChunkReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.files.length }
      override def get(): InternalRow = {
        val (path, bytes) = p.files(i)
        InternalRow(UTF8String.fromString(p.chunk), UTF8String.fromString(path),
          bytes)
      }
      override def close(): Unit = ()
    }
  }
}
