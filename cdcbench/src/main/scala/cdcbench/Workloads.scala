package cdcbench

import graft.cdc.{CdcPipeline, LineageRecord, PipelineOptions}
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.Schemas
import graft.table.SnapTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One committed epoch of a timed phase, as the client saw it. */
final case class EpochRec(events: Long, keysChanged: Long, epochMs: Double, cpuMs: Double,
    lookupMs: Seq[Double], pollMs: Double, deltaFiles: Int, compacted: Boolean,
    applySpanId: Long, lookupSpanIds: Seq[Long], pollSpanId: Long, lookupResults: Long)

/** One set-up repetition of a tail: its bulk changelog and bulk-loaded table. */
final case class TailSetup(log: String, table: SnapTable, ckpt: String)

/** What a workload hands back for reporting. */
final case class RunResult(
    epochs: Seq[EpochRec],
    timedWallS: Double,
    cpuS: Double,
    /** JIT compilation time in the timed phase, summed over compiler threads */
    jitS: Double,
    writeBytes: Long,
    tableBytes: Long,
    liveRows: Long,
    sessionS: Double,
    setupRepS: Seq[Double],
    warmS: Double,
    genS: Seq[Double],
    bulkLoadS: Seq[Double],
    timedSpanId: Long,
    lineage: Seq[LineageRecord],
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
  def events: Long = epochs.map(_.events).sum
  def setupS: Double = sessionS + Stats.median(setupRepS) + warmS
}

/**
 * The CDC workloads. Every one is closed loop with one client: one
 * sequential committer, and after each commit `lookups` point reads of keys
 * that epoch changed and one incremental poll, issued one at a time.
 * Sizes are fixed per workload; the number of epochs follows `--seconds`.
 */
final class Workloads(spark: SparkSession, seed: Long, seconds: Int, root: String,
    localRoot: String, val outcome: Stats.Outcome, setupReps: Int = 3,
    corruptExpectedDigest: Boolean = false) {

  /** Chunk indices of the tail start here, after the bulk changelog's. */
  private val tailChunkBase = 100
  /** Share of tail events made envelope-invalid (op outside I/U/D). */
  private val invalidPerMille = 5
  private val buckets = 32

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9
  private def ms(t0: Long): Double = (now - t0) / 1e6

  private def dirBytes(local: String): Long = {
    val p = Paths.get(local)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  private def local(path: String): String = path.replaceFirst("^[a-z]+:", "")

  /** One stderr line per run: set-up repetitions, warm-up, timed phase. */
  private def progress(setupRepS: Seq[Double], warmS: Double, wall: Double,
      recs: Seq[EpochRec]): Unit =
    System.err.println(f"[cdcbench] set-up ${setupRepS.map(x => f"$x%.1f").mkString(",")} s, " +
      f"warm-up $warmS%.1f s, timed $wall%.1f s, epochs " +
      recs.map(_.epochMs.round).mkString(",") + " ms")

  /** Bytes of the data files the table's live snapshot references. */
  private def snapshotBytes(t: SnapTable): Long =
    t.snapshot().files.map(f => Files.size(Paths.get(local(s"${t.root}/${f.path}")))).sum

  // ---- inputs ---------------------------------------------------------------

  /** The default changelog shape: dups, out-of-order, deletes, hot keys and
    * schema evolution, written as `chunk=NNNNN` directories. */
  private def bulkConfig(events: Long, convs: Int, chunks: Int): GenConfig =
    GenConfig(seed = seed, numEvents = events, numConvs = convs, chunks = chunks)

  /** Tail chunks: lsns above the bulk, updates concentrated on 10% of the
    * conversations, ~0.5% envelope-invalid events, one directory per
    * chunk with a `_SUCCESS` marker. Returns the chunk directories. */
  private def writeTail(dir: String, bulkEvents: Long, convs: Int, chunks: Int,
      chunkEvents: Long): Seq[String] = {
    val cfg = GenConfig(seed = seed + 1, numEvents = chunks * chunkEvents, numConvs = convs,
      hotFrac = 0.1, hotMass = 0.9, evolveFrac = 0.0, chunks = chunks,
      lsnOffset = bulkEvents)
    val w = cfg.oooWindow
    val ev = ChangeStreamGen.events(spark, cfg)
      .withColumn("op", when(pmod(xxhash64(col("lsn"), lit(seed), lit(99)), lit(1000)) <
        invalidPerMille, lit("X")).otherwise(col("op")))
      .withColumn("chunk", format_string("%05d", (lit(tailChunkBase) + least(lit(chunks - 1),
        greatest(lit(0), floor((col("pos") + w / 2) / chunkEvents)))).cast("int")))
    ev.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "op", "chunk")
      .repartition(col("chunk")).write.mode("overwrite").partitionBy("chunk").parquet(dir)
    (0 until chunks).map { c =>
      val d = f"$dir/chunk=${tailChunkBase + c}%05d"
      Files.createFile(Paths.get(local(d), "_SUCCESS"))
      d
    }
  }

  private def readChunk(dir: String): DataFrame =
    spark.read.schema(Schemas.envelope).option("recursiveFileLookup", "true").parquet(dir)

  // ---- the client's per-commit reads ----------------------------------------

  /** Up to `m` keys the chunk changed, chosen by the seed. */
  private def lookupKeys(chunk: Seq[Ev], m: Int, salt: Int): Seq[(String, Long)] = {
    val keys = chunk.filter(_.valid).map(_.key).distinct.sorted
    new scala.util.Random(seed * 31 + salt).shuffle(keys).take(m)
  }

  /** Point lookups, each checked against the reference (read-your-write). */
  private def lookups(t: SnapTable, keys: Seq[(String, Long)], ref: Reference,
      epoch: Long): (Seq[Double], Seq[Long], Long) = {
    var found = 0L
    val timed = keys.map { case k @ (conv, turn) =>
      var spanId = 0L
      val t0 = now
      val rows = Trace.span("lookup", epoch) {
        spanId = Trace.current.id
        t.readKey(spark, conv, turn).collect()
      }
      val lat = ms(t0)
      found += rows.length
      val expected = ref.live(k).map(_.payload)
      val got = rows.toSeq.map(Reference.payloadOf)
      outcome.attempt(got == expected.toSeq,
        s"lookup $k at epoch $epoch: expected $expected, read $got")
      (lat, spanId)
    }
    (timed.map(_._1), timed.map(_._2), found)
  }

  /** One incremental consumer poll from the previous watermark. */
  private def poll(t: SnapTable, fromLsn: Long, epoch: Long): (Double, Long) = {
    var spanId = 0L
    val t0 = now
    val ok = scala.util.Try(Trace.span("poll", epoch) {
      spanId = Trace.current.id
      t.readChangesSince(spark, fromLsn).count()
    }).map(_ > 0)
    val lat = ms(t0)
    outcome.attempt(ok.getOrElse(false), s"poll from lsn $fromLsn at epoch $epoch: $ok")
    (lat, spanId)
  }

  // ---- correctness gates ----------------------------------------------------

  private def finalState(t: SnapTable, ref: Reference, what: String): Long = {
    val df = t.read(spark)
    val got = Reference.digestOf(df)
    val want =
      if (corruptExpectedDigest) ref.digest.copy(sum = ref.digest.sum + 1) else ref.digest
    outcome.gate(got == want, s"$what final state: digest $got, reference $want")
    got.rows
  }

  private def lineageGate(t: SnapTable, epochs: Seq[Long], eventsFed: Long,
      invalidFed: Long, what: String): Seq[LineageRecord] = {
    val lin = CdcPipeline.readLineage(spark, t)
    val committed = lin.filter(_.result == "committed")
    val perEpoch = committed.groupBy(_.epoch).map { case (e, rs) => e -> rs.size }
    outcome.gate(epochs.forall(e => perEpoch.get(e).contains(1)) &&
      perEpoch.keySet == epochs.toSet,
      s"$what lineage: committed records per epoch $perEpoch, fed ${epochs.mkString(",")}")
    outcome.gate(committed.map(_.rowsIn).sum == eventsFed,
      s"$what lineage: sum rowsIn ${committed.map(_.rowsIn).sum}, fed $eventsFed")
    outcome.gate(committed.map(_.rowsDirty).sum == invalidFed,
      s"$what lineage: sum rowsDirty ${committed.map(_.rowsDirty).sum}, injected $invalidFed")
    committed
  }

  // ---- bulk-replay ----------------------------------------------------------

  /** A backfill: the whole default-shape changelog applied as one enriched
    * CoW epoch into an empty 32-bucket table, repeated on fresh tables. */
  def bulkReplay(sessionS: Double): RunResult = {
    val events = 60000L
    val convs = 2000
    val reps = math.max(2, math.round(seconds / 4.0).toInt)
    val m = 3
    val opts = PipelineOptions(enrich = true)
    val genS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupRepS = (0 until setupReps).map { r =>
      val t0 = now
      Trace.span("gen.changelog") {
        ChangeStreamGen.writeChangelog(spark, bulkConfig(events, convs, 2), s"$root/setup$r/log")
      }
      genS += secs(t0)
      secs(t0)
    }
    val log = s"$root/setup${setupReps - 1}/log"
    Trace.registerPathClass("changelog", s"$localRoot/setup${setupReps - 1}/log")
    val evs = Reference.collect(readChunk(log), -1)
    val ref = new Reference
    ref(evs)
    val keys = lookupKeys(evs.toSeq, m, 0)
    val keysChanged = evs.filter(_.valid).map(_.key).distinct.length.toLong
    val tables = (0 until reps).map { i =>
      Trace.registerPathClass(s"table$i", s"$localRoot/table$i")
      Trace.registerPathClass(s"lineage$i", s"$localRoot/table$i/meta/lineage")
      Trace.registerPathClass(s"dirty$i", s"$localRoot/table$i/meta/dirty")
      SnapTable.create(spark, s"$root/table$i", Schemas.payloadV2, numBuckets = buckets)
    }
    // warm-up: one untimed rep, so JIT and codegen of the replay, lookup and
    // poll paths happen before timing
    val tw = now
    Trace.span("warmup") {
      val warmTable = SnapTable.create(spark, s"$root/warm", Schemas.payloadV2,
        numBuckets = buckets)
      CdcPipeline.replayBatch(spark, log, warmTable, opts)
      lookups(warmTable, keys, ref, -1L)
      poll(warmTable, -1L, -1L)
    }
    val warmS = secs(tw)

    var timedSpan = 0L
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val t0 = now
    val recs = Trace.span("timed") {
      timedSpan = Trace.current.id
      tables.zipWithIndex.map { case (t, i) =>
        Trace.span("epoch", i) {
          var applySpan = 0L
          val ta = now
          val cpuA = os.getProcessCpuTime
          Trace.span("apply", i) {
            applySpan = Trace.current.id
            CdcPipeline.replayBatch(spark, log, t, opts)
          }
          val epochMs = ms(ta)
          val cpuMs = (os.getProcessCpuTime - cpuA) / 1e6
          val (lat, lspans, found) = lookups(t, keys, ref, i)
          val (pollMs, pspan) = poll(t, -1L, i)
          EpochRec(evs.length, keysChanged, epochMs, cpuMs, lat, pollMs,
            t.deltaFileCount, compacted = false, applySpan, lspans, pspan, found)
        }
      }
    }
    val wall = secs(t0)
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    progress(setupRepS, warmS, wall, recs)
    val written = tables.indices.map(i => dirBytes(s"$localRoot/table$i")).sum

    recs.foreach(_ => outcome.attempt(ok = true, "epoch"))
    var live = 0L
    val lin = tables.zipWithIndex.flatMap { case (t, i) =>
      live = finalState(t, ref, s"bulk table $i")
      lineageGate(t, Seq(0L), evs.length, 0L, s"bulk table $i")
    }
    RunResult(recs, wall, cpu, jitS, written, snapshotBytes(tables.last), live, sessionS,
      setupRepS, warmS, genS.toSeq, Nil, timedSpan, lin, Nil)
  }

  // ---- tails ------------------------------------------------------------------

  private val tailBulkEvents = 30000L
  private val tailConvs = 1000
  /** ~1/20 of the bulk table's live rows per chunk. */
  private val tailChunkEvents = 1000L

  private def tailSetup(r: Int, mor: Boolean, genS: scala.collection.mutable.Buffer[Double],
      loadS: scala.collection.mutable.Buffer[Double]): TailSetup = {
    val dir = s"$root/setup$r"
    val log = s"$dir/log"
    val tg = now
    Trace.span("gen.changelog") {
      ChangeStreamGen.writeChangelog(spark, bulkConfig(tailBulkEvents, tailConvs, 2), log)
    }
    genS += secs(tg)
    val tl = now
    val t = SnapTable.create(spark, s"$dir/table", Schemas.payloadV2, numBuckets = buckets)
    Trace.span("cdc.bulk_load") {
      if (mor) CdcPipeline.replayBatch(spark, log, t, PipelineOptions(enrich = true))
      else {
        // bulk-load through the same checkpointed query as the tail, as one
        // trigger over the bulk chunks: the tail's batch ids continue after it
        val q = CdcPipeline.stream(spark, log, t, s"$dir/ckpt",
          PipelineOptions(enrich = true, ledgerSource = true, maxFilesPerTrigger = 1000))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    }
    loadS += secs(tl)
    TailSetup(log, t, s"$dir/ckpt")
  }

  /** The steady state: small epochs against a much larger table. CoW runs
    * through the streaming path, one chunk per trigger; MoR applies each
    * chunk with `replayBatch` under default auto-compaction. */
  def tail(mor: Boolean, sessionS: Double): RunResult = {
    // MoR warms two epochs so that, at the default threshold, epoch 9
    // compacts inside the timed phase
    val warm = if (mor) 2 else 1
    val k = if (mor) math.max(3, math.round(seconds / 1.4).toInt)
            else math.max(3, math.round(seconds / 2.4).toInt)
    val m = 2
    val genS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loadS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (0 until setupReps).map { r =>
      val t0 = now
      val s = tailSetup(r, mor, genS, loadS)
      (secs(t0), s)
    }
    val setupRepS = setups.map(_._1)
    val s = setups.last._2
    val lr = s"$localRoot/setup${setupReps - 1}"
    Trace.registerPathClass("changelog", s"$lr/log")
    Trace.registerPathClass("changelog", s"$localRoot/staging")
    Trace.registerPathClass("ckpt", s"$lr/ckpt")
    Trace.registerPathClass("table", s"$lr/table")
    Trace.registerPathClass("lineage", s"$lr/table/meta/lineage")
    Trace.registerPathClass("dirty", s"$lr/table/meta/dirty")

    val tg = now
    val chunks = Trace.span("gen.tail") {
      writeTail(s"$root/staging", tailBulkEvents, tailConvs, warm + k, tailChunkEvents)
    }
    val tailGenS = secs(tg)
    val bulkEvs = Reference.collect(readChunk(s.log), -1)
    val chunkEvs = chunks.zipWithIndex.map { case (d, c) => Reference.collect(readChunk(d), c) }
    val ref = new Reference
    ref(bulkEvs)
    val t = s.table
    val opts =
      if (mor) PipelineOptions(enrich = true, mergeMode = "mor")
      else PipelineOptions(enrich = true, ledgerSource = true, maxFilesPerTrigger = 1,
        followIntervalMs = Some(200L))
    val recorder = new ProgressRecorder
    val query =
      if (mor) None
      else {
        spark.streams.addListener(recorder)
        Some(CdcPipeline.stream(spark, s.log, t, s.ckpt, opts))
      }

    /** Apply chunk c as epoch c + 1; returns its epoch latency in ms. */
    def applyChunk(c: Int): Double = query match {
      case None =>
        val t0 = now
        CdcPipeline.replayBatch(spark, chunks(c), t, opts, epoch = c + 1L)
        ms(t0)
      case Some(q) =>
        // publish the chunk into the tailed directory, then wait for its trigger
        val name = Paths.get(local(chunks(c))).getFileName.toString
        Files.move(Paths.get(local(chunks(c))), Paths.get(local(s.log), name))
        val deadline = now + 150L * 1000000000L
        def done = recorder.progress.asScala.find(p => p.batchId == c + 1L && p.numInputRows > 0)
        while (done.isEmpty) {
          if (!q.isActive || now > deadline)
            throw new IllegalStateException(s"tail query stopped before epoch ${c + 1}: " +
              q.exception.map(_.getMessage).getOrElse("timeout"))
          Thread.sleep(2)
        }
        done.get.durationMs.get("triggerExecution").doubleValue
    }

    // warm-up: untimed epochs of the same shape as the timed ones
    val tw = now
    (0 until warm).foreach { c =>
      val fromLsn = t.maxAppliedLsn(spark)
      applyChunk(c)
      ref(chunkEvs(c))
      lookups(t, lookupKeys(chunkEvs(c).toSeq, m, c), ref, c + 1L)
      poll(t, fromLsn, c + 1L)
    }
    val warmS = secs(tw) + tailGenS

    var timedSpan = 0L
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val bytes0 = dirBytes(s"$lr/table")
    val t0 = now
    val recs = Trace.span("timed") {
      timedSpan = Trace.current.id
      (warm until warm + k).map { c =>
        val epoch = c + 1L
        Trace.span("epoch", epoch) {
          val fromLsn = t.maxAppliedLsn(spark)
          val deltasBefore = t.deltaFileCount
          var applySpan = 0L
          val cpuA = os.getProcessCpuTime
          val epochMs = Trace.span("apply", epoch) {
            applySpan = Trace.current.id
            applyChunk(c)
          }
          val cpuMs = (os.getProcessCpuTime - cpuA) / 1e6
          ref(chunkEvs(c))
          val deltas = t.deltaFileCount
          val keys = lookupKeys(chunkEvs(c).toSeq, m, c)
          val (lat, lspans, found) = lookups(t, keys, ref, epoch)
          val (pollMs, pspan) = poll(t, fromLsn, epoch)
          EpochRec(chunkEvs(c).length, chunkEvs(c).filter(_.valid).map(_.key).distinct.size,
            epochMs, cpuMs, lat, pollMs, deltas, deltas < deltasBefore, applySpan, lspans, pspan,
            found)
        }
      }
    }
    val wall = secs(t0)
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    progress(setupRepS, warmS, wall, recs)
    val written = dirBytes(s"$lr/table") - bytes0
    query.foreach { q => q.stop(); spark.streams.removeListener(recorder) }

    recs.foreach(_ => outcome.attempt(ok = true, "epoch"))
    val live = finalState(t, ref, "tail table")
    val fed = bulkEvs.length + chunkEvs.take(warm + k).map(_.length).sum
    val invalid = chunkEvs.take(warm + k).map(_.count(!_.valid)).sum
    val lin = lineageGate(t, 0L to (warm + k).toLong, fed, invalid, "tail table")
    RunResult(recs, wall, cpu, jitS, written, snapshotBytes(t), live, sessionS, setupRepS,
      warmS, genS.toSeq, loadS.toSeq, timedSpan, lin.filter(_.epoch > warm),
      recorder.progress.asScala.toSeq)
  }
}
