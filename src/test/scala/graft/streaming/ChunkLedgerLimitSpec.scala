package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import java.nio.file.{Files, Paths}

/**
 * Admission of [[ChunkLedgerStream.latestOffset]]: the engine hands this
 * source all-available (its default limit, and the limit of a one-time
 * trigger), so the source's own chunk cap bounds each batch.
 */
class ChunkLedgerLimitSpec extends SparkSpec {

  /** chunk layout: chunk=0000i with `filesPerChunk(i)` one-byte data files,
    * each `_SUCCESS`-marked (the ledger's committed-chunk contract). */
  private def mkLedger(filesPerChunk: Seq[Int]): String = {
    val root = tmpDir("ledgerlimit")
    filesPerChunk.zipWithIndex.foreach { case (n, i) =>
      val d = Paths.get(root, f"chunk=$i%05d")
      Files.createDirectories(d)
      (0 until n).foreach(j =>
        Files.write(d.resolve(f"part-$j%05d.parquet"), Array[Byte](1)))
      Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
    }
    root
  }

  private def latest(root: String, maxChunks: Int, from: String = ""): String = {
    SparkSession.setActiveSession(spark)
    val s = new ChunkLedgerStream(root, maxChunks)
    s.latestOffset(ChunkOffset(from), ReadLimit.allAvailable()) match {
      case ChunkOffset(c) => c
    }
  }

  test("chunk cap bounds admission, also from a mid-stream offset") {
    val root = mkLedger(Seq(2, 3, 4))
    assert(latest(root, 10) == "chunk=00002")
    assert(latest(root, 2) == "chunk=00001")
    assert(latest(root, 1) == "chunk=00000")
    // resuming from a mid-stream offset caps the FRESH chunks only
    assert(latest(root, 1, from = "chunk=00000") == "chunk=00001")
    assert(latest(root, 10, from = "chunk=00000") == "chunk=00002")
    // nothing fresh: the offset stays where it is
    assert(latest(root, 10, from = "chunk=00002") == "chunk=00002")
  }

  test("a ledger tail refuses a byte budget it would ignore") {
    import graft.cdc.{CdcPipeline, PipelineOptions}
    import graft.table.SnapTable
    val t = SnapTable.create(spark, tmpDir("ledgerbytes"), graft.model.Schemas.payloadV2)
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.stream(spark, mkLedger(Seq(1)), t, tmpDir("ledgerckpt"),
        PipelineOptions(ledgerSource = true, maxBytesPerTrigger = Some(1L << 20))).stop()
    }
    assert(e.getMessage.contains("maxBytesPerTrigger"))
  }
}
