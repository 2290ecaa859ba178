package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Local filesystem under its own scheme that counts metadata calls made
  * by its callers (the per-child stats a local listing takes internally
  * are one call, as one listing RPC is on HDFS). */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getFileStatus(f: Path): FileStatus = CountingFs.counted(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = CountingFs.counted(super.listStatus(f))
  override def exists(f: Path): Boolean = CountingFs.counted(super.exists(f))
}
object CountingFs {
  val calls = new AtomicInteger
  private val depth = ThreadLocal.withInitial[Integer](() => 0)
  private def counted[T](call: => T): T = {
    if (depth.get == 0) calls.incrementAndGet()
    depth.set(depth.get + 1)
    try call finally depth.set(depth.get - 1)
  }
}

/**
 * A ledger trigger's filesystem cost must not grow with the chunks already
 * consumed: `_SUCCESS` is probed only for chunk names past the offset.
 */
class ChunkLedgerCostSpec extends SparkSpec {

  /** `n` marked one-file chunks. */
  private def mkLedger(n: Int): String = {
    val root = tmpDir("ledgercost")
    (0 until n).foreach { i =>
      val d = Paths.get(root, f"chunk=$i%05d")
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000.parquet"), Array[Byte](1))
      Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
    }
    root
  }

  /** FS calls of one trigger over a ledger whose last chunk is the only
    * unconsumed one: offset, planning and the progress report. */
  private def triggerCalls(chunks: Int): Int = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    SparkSession.setActiveSession(spark)
    val s = new ChunkLedgerStream(s"countfs:${mkLedger(chunks)}", 1)
    val start = ChunkOffset(f"chunk=${chunks - 2}%05d")
    CountingFs.calls.set(0)
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    assert(end == ChunkOffset(f"chunk=${chunks - 1}%05d"))
    assert(s.planInputPartitions(start, end).length == 1)
    assert(s.reportLatestOffset() == end)
    CountingFs.calls.get()
  }

  test("per-trigger FS calls are the same with 10 and with 100 consumed chunks") {
    val few = triggerCalls(11)
    val many = triggerCalls(101)
    assert(few == many, s"FS calls per trigger: $few at 10 consumed, $many at 100")
  }
}
