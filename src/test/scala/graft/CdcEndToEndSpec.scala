package graft

import graft.cdc._
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.{ChangeEvent, Schemas}
import graft.oracle.OracleReducer
import graft.table.{MergeResult, SnapTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end conformance (SURVEY.md §7.2 minimum slice): deterministic
 * change stream -> dirty gate -> LWW dedup -> snapshot-table MERGE, final
 * state equal to the in-memory oracle under stable (conv_id, turn_idx)
 * ordering with per-turn text equality.
 */
class CdcEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(numEvents = 20000, numConvs = 300, chunks = 6)

  private def collectEvents(c: GenConfig = cfg): Seq[ChangeEvent] =
    ChangeStreamGen.events(spark, c).drop("pos").as[ChangeEvent].collect().toSeq

  private def tableState(t: SnapTable): Seq[(String, Int, String)] =
    t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def oracleState(events: Seq[ChangeEvent]): Seq[(String, Int, String)] =
    OracleReducer.reduce(events).map(e => (e.conv_id, e.turn_idx, e.text))

  test("generator is deterministic") {
    val a = ChangeStreamGen.events(spark, cfg).orderBy("pos", "lsn").collect()
    val b = ChangeStreamGen.events(spark, cfg).orderBy("pos", "lsn").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length > cfg.numEvents) // duplicates present
  }

  test("batch replay matches oracle") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val rec = CdcPipeline.replayBatch(spark, log, t)
    assert(rec.result == "committed")
    val expected = oracleState(collectEvents())
    val got = tableState(t)
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("batch replay matches oracle across seeds and stream shapes") {
    // conformance breadth: heavy duplication, delete-heavy, wide
    // out-of-order, and extreme hot-key mass must all reduce to the oracle
    val shapes = Seq(
      cfg.copy(seed = 7L, pDup = 0.30, oooWindow = 5000),
      cfg.copy(seed = 123L, pDelete = 0.15, hotFrac = 0.001, hotMass = 0.6),
      cfg.copy(seed = 999L, turnsPerConv = 5, pDup = 0.0, oooWindow = 1))
    for (c <- shapes) {
      val t = SnapTable.create(spark, tmpDir(s"shape-${c.seed}"),
        Schemas.payloadV2, numBuckets = 8)
      CdcPipeline.replayBatch(spark, {
        val log = tmpDir(s"shapelog-${c.seed}")
        ChangeStreamGen.writeChangelog(spark, c, log); log
      }, t)
      assert(tableState(t) == oracleState(collectEvents(c)), s"shape $c diverged")
    }
  }

  test("streaming replay in chunked epochs matches oracle; lineage emitted") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(maxFilesPerTrigger = 2))
    q.awaitTermination()
    assert(tableState(t) == oracleState(collectEvents()))
    val lineage = CdcPipeline.readLineage(spark, t)
    assert(lineage.nonEmpty)
    assert(lineage.map(_.rowsIn).sum > cfg.numEvents)
    assert(lineage.forall(l => l.partitions.forall(p => p.minLsn <= p.maxLsn)))
  }

  test("chunk-ledger source: streaming replay matches oracle, rate-limited offsets") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    // 2 chunk dirs per trigger -> ceil(6/2) = 3 epochs to drain
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(maxFilesPerTrigger = 2, ledgerSource = true))
    q.awaitTermination()
    assert(tableState(t) == oracleState(collectEvents()))
    val committed = CdcPipeline.readLineage(spark, t).filter(_.result == "committed")
    assert(committed.size == 3, s"expected 3 rate-limited epochs, got ${committed.size}")
  }

  test("chunk-ledger source: crash-resume from the chunk-offset checkpoint") {
    // many small chunks: the stop must land MID-stream, and a fast drain
    // (1 chunk/trigger x 12) leaves ~10 epochs of headroom after the first
    // committed version triggers the stop
    val midCfg = cfg.copy(chunks = 12)
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, midCfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val ckpt = tmpDir("ckpt")
    val opts = PipelineOptions(maxFilesPerTrigger = 1, ledgerSource = true)
    val q1 = CdcPipeline.stream(spark, log, t, ckpt, opts)
    var waited = 0
    while (t.currentVersion < 1 && waited < 600) { Thread.sleep(100); waited += 1 }
    q1.stop(); q1.awaitTermination()
    val midVersion = t.currentVersion
    assert(midVersion >= 1 && midVersion < midCfg.chunks, s"mid-stream stop at $midVersion")
    val q2 = CdcPipeline.stream(spark, log, t, ckpt, opts)
    q2.awaitTermination()
    assert(tableState(t) == oracleState(collectEvents(midCfg)))
    val committed = CdcPipeline.readLineage(spark, t)
      .filter(_.result == "committed").map(_.epoch)
    assert(committed.distinct.size == committed.size, "no epoch applied twice")
  }

  test("chunk-ledger source: mid-stream schema evolution aligns pre-evolution chunks") {
    // the generator physically writes chunks that end before the evolution
    // point WITHOUT the `tool` column; the ledger path's batch body reads
    // the manifest-listed files itself, so it must align those files to the
    // envelope (tool = null) exactly like the built-in file source — and
    // the table, started on the PRE-evolution schema, must widen mid-stream
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV1, numBuckets = 16)
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(maxFilesPerTrigger = 2, ledgerSource = true))
    q.awaitTermination()
    val sch = t.read(spark).schema
    assert(sch.fieldNames.contains("tool"))
    assert(t.read(spark).filter(col("tool").isNotNull).count() > 0)
    assert(tableState(t) == oracleState(collectEvents()))
  }

  test("chunk-ledger source: a tail appended AFTER the first drain is picked up") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val ckpt = tmpDir("ckpt")
    val opts = PipelineOptions(maxFilesPerTrigger = 3, ledgerSource = true)
    CdcPipeline.stream(spark, log, t, ckpt, opts).awaitTermination()
    val baseEvents = collectEvents()
    assert(tableState(t) == oracleState(baseEvents))
    // new chunk dirs arrive with lexicographically later names (the
    // ledger contract); offsets resume past the drained ones
    val tailCfg = cfg.copy(numEvents = 4000, chunks = 2,
      lsnOffset = baseEvents.map(_.lsn).max + 1)
    ChangeStreamGen.writeChangelog(spark, tailCfg, tmpDir("tail")).zipWithIndex
      .foreach { case (dir, i) =>
        val dst = new java.io.File(log, f"chunk=${cfg.chunks + i}%05d")
        assert(new java.io.File(dir).renameTo(dst), s"move $dir -> $dst")
      }
    CdcPipeline.stream(spark, log, t, ckpt, opts).awaitTermination()
    val allEvents = baseEvents ++
      ChangeStreamGen.events(spark, tailCfg).drop("pos").as[ChangeEvent].collect()
    assert(tableState(t) == oracleState(allEvents))
  }

  test("epoch replay is idempotent (exactly-once)") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    CdcPipeline.replayBatch(spark, log, t, epoch = 0L)
    val v1 = t.currentVersion
    val before = tableState(t)
    // Re-apply the same epoch: must be skipped without a new snapshot.
    val rec = CdcPipeline.replayBatch(spark, log, t, epoch = 0L)
    assert(rec.result == "skipped_epoch")
    assert(t.currentVersion == v1)
    assert(tableState(t) == before)
  }

  test("crash-resume: restart from checkpoint completes with no double-apply") {
    // many small files (12 chunks, 1 file/trigger): the stop must land
    // MID-stream even when the drain is fast — ~10+ epochs of headroom
    // after the first committed version triggers the stop
    val midCfg = cfg.copy(chunks = 12)
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, midCfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val ckpt = tmpDir("ckpt")
    // Run only the first few micro-batches, then "crash".
    val q1 = CdcPipeline.stream(spark, log, t, ckpt, PipelineOptions(maxFilesPerTrigger = 1))
    var waited = 0
    while (t.currentVersion < 1 && waited < 600) { Thread.sleep(100); waited += 1 }
    q1.stop(); q1.awaitTermination()
    val midVersion = t.currentVersion
    assert(midVersion >= 1 && midVersion < midCfg.chunks, s"mid-stream stop at $midVersion")
    // Restart from the same checkpoint: must finish and match the oracle.
    val q2 = CdcPipeline.stream(spark, log, t, ckpt, PipelineOptions(maxFilesPerTrigger = 1))
    q2.awaitTermination()
    assert(tableState(t) == oracleState(collectEvents(midCfg)))
    // No epoch applied twice.
    val lineage = CdcPipeline.readLineage(spark, t)
    val committed = lineage.filter(_.result == "committed").map(_.epoch)
    assert(committed.distinct.size == committed.size)
  }

  test("schema evolution mid-stream: tool column appears, old rows read as null") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    // Start the table on the PRE-evolution schema (no `tool`): the stream
    // itself must widen it.
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV1, numBuckets = 16)
    CdcPipeline.replayBatch(spark, log, t)
    val sch = t.read(spark).schema
    assert(sch.fieldNames.contains("tool"))
    val withTool = t.read(spark).filter(col("tool").isNotNull).count()
    assert(withTool > 0)
    assert(tableState(t) == oracleState(collectEvents()))
  }

  test("deletes win monotonically and tombstones expire") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    def ev(turn: Int, tsSec: Long, lsn: Long, op: String, text: String) =
      ChangeEvent("c1", turn, "user", text, null, new java.sql.Timestamp(tsSec * 1000), lsn, op)
    val batch1: DataFrame = Seq(ev(1, 100, 1, "I", "a"), ev(2, 100, 2, "I", "b")).toDF()
    CdcPipeline.applyBatch(t, batch1, 0)
    val batch2: DataFrame = Seq(ev(1, 200, 3, "D", "a")).toDF()
    CdcPipeline.applyBatch(t, batch2, 1)
    assert(tableState(t) == Seq(("c1", 2, "b")))
    // A LATE update older than the delete must not resurrect the row.
    val batch3: DataFrame = Seq(ev(1, 150, 2, "U", "late")).toDF()
    CdcPipeline.applyBatch(t, batch3, 2)
    assert(tableState(t) == Seq(("c1", 2, "b")))
    // Tombstone is physically present until expired.
    assert(t.readRaw(spark).filter(col("op") === "D").count() == 1)
    assert(t.expireTombstones(spark, lsnWatermark = 100) == 1)
    assert(t.readRaw(spark).filter(col("op") === "D").count() == 0)
    assert(tableState(t) == Seq(("c1", 2, "b")))
  }

  test("dirty samples are persisted per epoch alongside lineage") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    val good = (1 to 50).map(i => ChangeEvent("c1", i, "user", s"t$i", null,
      new java.sql.Timestamp(1000L + i), i.toLong, "I"))
    val bad = Seq(
      ChangeEvent(null, 1, "user", "x", null, new java.sql.Timestamp(1000), 100, "I"),
      ChangeEvent("c2", 1, "user", "x", null, new java.sql.Timestamp(1000), 101, "Z"))
    CdcPipeline.applyBatch(t, (good ++ bad).toDF(), epoch = 0,
      PipelineOptions(errorLimit = ErrorLimit(record = Some(10))))
    val samples = CdcPipeline.readDirtySamples(spark, t, 0)
    assert(samples.isDefined, "quarantine dir must exist for a dirty epoch")
    val rows = samples.get.select("lsn", Dirty.ReasonCol).as[(Long, String)].collect().toSet
    assert(rows == Set((100L, "conv_id_null"), (101L, "op_domain")))
    // epochs with no dirty rows write no quarantine dir
    CdcPipeline.applyBatch(t, good.toDF(), epoch = 1)
    assert(CdcPipeline.readDirtySamples(spark, t, 1).isEmpty)

    // more than n dirty rows per reason over 4 input partitions: each
    // reason keeps exactly its n lowest-lsn rows, null lsns first
    val n = 5
    def at(lsn: Long, conv: String = "c3", op: String = "U") =
      ChangeEvent(conv, lsn.toInt, "user", s"d$lsn", null, new java.sql.Timestamp(2000L + lsn),
        lsn, op)
    val many = good.map(e => at(e.lsn + 400)) ++
      (200L until 220L).map(at(_, conv = null)) ++ // conv_id_null; 210 and 215 lose their lsn
      (311L to 300L by -1).map(at(_, op = "Z")) ++ // op_domain
      (500L until 503L).map(at(_)) // lsn_null: fewer than n, all kept
    val nullLsn = Set(210L, 215L) ++ (500L until 503L)
    val batch = many.toDF().repartition(4)
      .withColumn("lsn", when(col("lsn").isin(nullLsn.toSeq: _*), lit(null)).otherwise(col("lsn")))
    CdcPipeline.applyBatch(t, batch, epoch = 2, PipelineOptions(
      errorLimit = ErrorLimit(record = None, percentage = Some(0.9)), dirtySampleN = n))
    val kept = CdcPipeline.readDirtySamples(spark, t, 2).get
      .select(col(Dirty.ReasonCol), col("lsn").cast("string")).as[(String, String)].collect()
    assert(kept.toSeq == Seq(("conv_id_null", null), ("conv_id_null", null),
      ("conv_id_null", "200"), ("conv_id_null", "201"), ("conv_id_null", "202")) ++
      Seq.fill(3)(("lsn_null", null)) ++ (300 to 304).map(l => ("op_domain", l.toString)))
  }

  test("dirty samples read back equal: null lsns, microseconds, TIMESTAMP_NTZ, any text") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:20:05.123456")
    val seen = java.time.LocalDateTime.parse("2024-03-01T10:20:05.654321")
    val texts = Seq("plain", "naïve — 日本語 ✓", "say \"hi\"\nnext line\r\n\ttab",
      "back\\slash {\"j\": [1]}")
    // per text: a clean row, a conv_id_null row with an lsn, and an op_domain
    // row; one conv_id_null and one lsn_null row have no lsn
    val events = texts.zipWithIndex.flatMap { case (text, i) => Seq(
      ("c1", i, text, Option(10L + i), "U"),
      (null, i, text, Option(30L - i), "I"),
      ("c2", i, text, Option(50L + i), "Z"))
    } ++ Seq((null, 9, "no lsn", None, "I"), ("c3", 9, "no lsn\n", None, "U"))
    val batch = events.zipWithIndex.map { case ((conv, turn, text, lsn, op), j) =>
      (conv, turn, "user", text, null: String, ts, lsn, op, seen.plusNanos(1000L * j))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "op", "seen")
    CdcPipeline.applyBatch(t, batch, epoch = 0, PipelineOptions(
      errorLimit = ErrorLimit(record = None, percentage = Some(0.9))))
    val tagged = batch.withColumn(Dirty.ReasonCol, Dirty.reason(Dirty.envelopeRules))
    val lsnNullsFirst = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String](Dirty.ReasonCol), Option(r.getAs[java.lang.Long]("lsn")).map(_.longValue))
    val expected = tagged.filter(col(Dirty.ReasonCol).isNotNull).collect().toSeq
      .sortBy(lsnNullsFirst)
    assert(expected.size == 10 && expected.map(_.getAs[String](Dirty.ReasonCol)).toSet ==
      Set("conv_id_null", "lsn_null", "op_domain"))
    val samples = CdcPipeline.readDirtySamples(spark, t, 0).get
    assert(samples.schema == tagged.schema)
    assert(samples.collect().toSeq == expected)
  }

  test("lineage reads back in epoch order past eight digits") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    val epochs = Seq(99999999L, 100000000L)
    for (e <- epochs) CdcPipeline.applyBatch(t, Seq(ChangeEvent("c1", 1, "user", s"t$e", null,
      new java.sql.Timestamp(1000L), e, "U")).toDF(), e)
    assert(CdcPipeline.readLineage(spark, t).map(_.epoch) == epochs)
  }

  test("bucket assignment is stable under merge-key type widening") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 8)
    val before = (1 to 100).map(i => ChangeEvent(s"c$i", i, "user", "v1", null,
      new java.sql.Timestamp(1000L + i), i.toLong, "I"))
    CdcPipeline.applyBatch(t, before.toDF(), epoch = 0)
    // Same keys arrive with turn_idx WIDENED to long: every row must land in
    // the same bucket as its int-typed predecessor, so the LWW winner
    // replaces it (no duplicate keys stranded across buckets).
    val widened = before.map(e => e.copy(text = "v2", ts = new java.sql.Timestamp(2000L + e.lsn),
      lsn = e.lsn + 1000)).toDF()
      .withColumn("turn_idx", col("turn_idx").cast("long"))
    CdcPipeline.applyBatch(t, widened, epoch = 1)
    val state = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Long, String)].collect().toSeq
    assert(state.size == 100, s"expected 100 unique keys, got ${state.size} " +
      "(duplicates mean bucket assignment diverged across the widening)")
    assert(state.forall(_._3 == "v2"))
  }

  test("byte-rate throttle bounds per-epoch input (Channel bps parity)") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val totalBytes = {
      val fs = new org.apache.hadoop.fs.Path(log)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def walk(p: org.apache.hadoop.fs.Path): Long =
        fs.listStatus(p).map(s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.startsWith("part-")) s.getLen else 0L).sum
      walk(new org.apache.hadoop.fs.Path(log))
    }
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(maxBytesPerTrigger = Some(totalBytes / 4)))
    q.awaitTermination()
    val committed = CdcPipeline.readLineage(spark, t).filter(_.result == "committed")
    assert(committed.size >= 3,
      s"byte budget ${totalBytes / 4} of $totalBytes must split the replay into " +
        s">=3 epochs, got ${committed.size}")
    assert(tableState(t) == oracleState(collectEvents()))
  }

  test("merge-on-read streaming replay matches oracle; compaction folds deltas") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(maxFilesPerTrigger = 2, mergeMode = "mor"))
    q.awaitTermination()
    assert(t.deltaFileCount > 0, "MoR replay must leave outstanding delta files")
    // read-time reduce exposes exactly the oracle state despite deltas
    val expected = oracleState(collectEvents())
    assert(tableState(t) == expected)
    // compaction folds deltas into base without changing the visible state
    val rewritten = t.compact(spark)
    assert(rewritten > 0)
    assert(t.deltaFileCount == 0)
    assert(tableState(t) == expected)
    // per-epoch commit IO was O(batch): every committed epoch wrote files,
    // none rewrote the full table (delta bytes == batch winners only)
    val lineage = CdcPipeline.readLineage(spark, t).filter(_.result == "committed")
    assert(lineage.size >= 3)
  }

  test("merge-on-read crash-resume: restart completes with no double-apply") {
    val log = tmpDir("changelog")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 16)
    val ckpt = tmpDir("ckpt")
    val opts = PipelineOptions(maxFilesPerTrigger = 1, mergeMode = "mor")
    val q1 = CdcPipeline.stream(spark, log, t, ckpt, opts)
    var waited = 0
    while (t.currentVersion < 2 && waited < 600) { Thread.sleep(100); waited += 1 }
    q1.stop(); q1.awaitTermination()
    val q2 = CdcPipeline.stream(spark, log, t, ckpt, opts)
    q2.awaitTermination()
    assert(tableState(t) == oracleState(collectEvents()))
    val committed = CdcPipeline.readLineage(spark, t).filter(_.result == "committed").map(_.epoch)
    assert(committed.distinct.size == committed.size)
  }

  test("torn lineage records (crash between create and write) do not break the reader") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    CdcPipeline.applyBatch(t, Seq(ChangeEvent("c1", 1, "user", "x", null,
      new java.sql.Timestamp(1000), 1L, "I")).toDF(), 0)
    val dir = new org.apache.hadoop.fs.Path(t.root, "meta/lineage")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // a zero-length record under a FINAL name (the pre-atomic-publish crash
    // corpse) and an in-flight dot-tmp: the reader must skip both
    fs.create(new org.apache.hadoop.fs.Path(dir, "epoch-00000007.json"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(dir, ".tmp-epoch-00000009-1.json"), true).close()
    val recs = CdcPipeline.readLineage(spark, t)
    assert(recs.map(_.epoch) == Seq(0L) && recs.head.result == "committed")
  }

  test("merge-on-read epochs are idempotent and auto-compact bounds deltas") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 2)
    val opts = PipelineOptions(mergeMode = "mor", morCompactDeltasPerBucket = 2)
    def batch(epoch: Int) = (1 to 20).map(i => ChangeEvent(s"c$i", 1, "user",
      s"e$epoch", null, new java.sql.Timestamp(1000L * epoch), epoch * 100L + i, "U")).toDF()
    for (e <- 0 until 8) CdcPipeline.applyBatch(t, batch(e), e, opts)
    // auto-compaction kept outstanding deltas bounded
    assert(t.deltaFileCount <= 2 * 2 + 2, s"deltas unbounded: ${t.deltaFileCount}")
    // replaying an old epoch is a no-op
    val v = t.currentVersion
    val rec = CdcPipeline.applyBatch(t, batch(3), 3, opts)
    assert(rec.result == "skipped_epoch" && t.currentVersion == v)
    // last writer won everywhere
    assert(t.read(spark).filter(col("text") === "e7").count() == 20)
    assert(t.read(spark).count() == 20)
  }

  test("multi-version read reconstructs a key's full change history across epochs") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 4)
    def ev(ts: Long, lsn: Long, op: String, text: String) =
      ChangeEvent("c1", 1, "user", text, null, new java.sql.Timestamp(ts * 1000), lsn, op)
    CdcPipeline.applyBatch(t, Seq(ev(100, 1, "I", "v1"),
      ChangeEvent("c2", 9, "user", "other", null,
        new java.sql.Timestamp(100000), 2, "I")).toDF(), 0)
    CdcPipeline.applyBatch(t, Seq(ev(200, 3, "U", "v2")).toDF(), 1)
    CdcPipeline.applyBatch(t, Seq(ev(300, 4, "D", "v2")).toDF(), 2)
    CdcPipeline.applyBatch(t, Seq(ev(400, 5, "I", "v3")).toDF(), 3)
    // latest-state (single-version) read: only the re-insert survives
    assert(tableState(t).filter(_._1 == "c1") == Seq(("c1", 1, "v3")))
    // multi-version read: every retained state with the version it appeared in
    val hist = t.readVersionHistory(spark)
      .filter(col("conv_id") === "c1")
      .select("first_version", "lsn", "op", "text")
      .as[(Long, Long, String, String)].collect().sortBy(_._2).toSeq
    assert(hist == Seq((1L, 1L, "I", "v1"), (2L, 3L, "U", "v2"),
      (3L, 4L, "D", "v2"), (4L, 5L, "I", "v3")))
  }

  test("wide commits compute manifest row counts on executors, not the driver") {
    // > 256 files in one commit triggers the distributed footer-read path
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 300)
    val batch = (1 to 3000).map(i => ChangeEvent(s"c$i", i % 50, "user", s"t$i", null,
      new java.sql.Timestamp(1000L + i), i.toLong, "I")).toDF()
    CdcPipeline.applyBatch(t, batch, 0)
    val snap = t.snapshot()
    assert(snap.files.size > 256, s"expected wide commit, got ${snap.files.size} files")
    assert(snap.rows == 3000)
    assert(snap.files.map(_.rows).sum == 3000)
    assert(t.read(spark).count() == 3000)
  }

  test("point lookup reads only the key's bucket (KV-get path)") {
    val t = SnapTable.create(spark, GraftTestFs.root(spark, tmpDir("table")), Schemas.payloadV2,
      numBuckets = 16)
    val batch = (1 to 400).map(i => ChangeEvent(s"c${i % 80}", i % 5, "user", s"t$i", null,
      new java.sql.Timestamp(1000L + i), i.toLong, "U")).toDF()
    CdcPipeline.applyBatch(t, batch, 0)
    val full = t.read(spark).filter(col("conv_id") === "c7" && col("turn_idx") === 2)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().toSet
    val (point, opened) = GraftTestFs.opening(t.readKey(spark, "c7", 2L)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().toSet)
    assert(point == full && point.nonEmpty)
    // pruning: the lookup opens exactly the files of the key's bucket
    val snap = t.snapshot()
    def local(rel: String) = new org.apache.hadoop.fs.Path(t.root, rel).toUri.getPath
    val bucketFiles = snap.files.filter(_.bucket == t.bucketOf(spark, "c7", 2L, 16))
      .map(f => local(f.path))
    assert(opened.filter(_.endsWith(".parquet")).sorted == bucketFiles.sorted, opened)
    assert(bucketFiles.size < snap.files.size)
  }

  test("readChangesSince yields exactly the new changes (deletes included) with file pruning") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 8)
    val opts = PipelineOptions(mergeMode = "mor")
    def ev(i: Int, lsn: Long, op: String) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
      new java.sql.Timestamp(1000L + lsn), lsn, op)
    CdcPipeline.applyBatch(t, (1 to 50).map(i => ev(i, 100 + i, "I")).toDF(), 0, opts)
    CdcPipeline.applyBatch(t, (1 to 20).map(i => ev(i, 200 + i, "U")).toDF(), 1, opts)
    CdcPipeline.applyBatch(t, (Seq(ev(1, 301, "D")) ++ (2 to 5).map(i => ev(i, 300 + i, "U")))
      .toDF(), 2, opts)
    // consumer applied everything through lsn 220: only epoch-2 changes remain
    val changes = t.readChangesSince(spark, 220L)
      .select("conv_id", "lsn", "op").as[(String, Long, String)].collect().toSet
    assert(changes == Set(("c1", 301L, "D"), ("c2", 302L, "U"), ("c3", 303L, "U"),
      ("c4", 304L, "U"), ("c5", 305L, "U")))
    // footer-stats pruning: the scan skips the files of earlier epochs
    val scanned = t.readChangesSince(spark, 220L).inputFiles.length
    assert(scanned < t.snapshot().files.size,
      s"expected lsn-stat pruning, scanned $scanned of ${t.snapshot().files.size}")
  }

  test("expireSnapshots GCs old manifests and orphan files; shared files survive") {
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 8)
    def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
      new java.sql.Timestamp(1000L + lsn), lsn, "U")
    // epoch 0 fills all buckets; epochs 1-2 touch ONE key each, so most
    // files are shared between consecutive snapshots
    CdcPipeline.applyBatch(t, (1 to 64).map(i => ev(i, 100 + i)).toDF(), 0)
    CdcPipeline.applyBatch(t, Seq(ev(1, 201)).toDF(), 1)
    CdcPipeline.applyBatch(t, Seq(ev(2, 301)).toDF(), 2)
    val before = t.read(spark).select("conv_id", "text").as[(String, String)]
      .collect().toSet
    val oldVersions = t.history.dropRight(1)
    val (snapsGone, filesGone) = t.expireSnapshots(keepLast = 1)
    assert(snapsGone == oldVersions.size && filesGone > 0)
    assert(t.history == Seq(t.currentVersion))
    // current state fully intact (shared files were NOT deleted)
    assert(t.read(spark).select("conv_id", "text").as[(String, String)]
      .collect().toSet == before)
    // expired versions are no longer time-travelable
    intercept[Exception] { t.readVersion(spark, oldVersions.head).count() }
  }

  test("rebucket rewrites the layout; state, lookups and later merges survive") {
    val t = SnapTable.create(spark, GraftTestFs.root(spark, tmpDir("table")), Schemas.payloadV2,
      numBuckets = 4)
    def ev(i: Int, lsn: Long, op: String = "U") = ChangeEvent(s"c$i", 1, "user", s"v$lsn",
      null, new java.sql.Timestamp(1000L + lsn), lsn, op)
    CdcPipeline.applyBatch(t,
      ((1 to 200).map(i => ev(i, 100 + i)) :+ ev(7, 301, "D")).toDF(), 0,
      PipelineOptions(mergeMode = "mor"))
    val before = t.read(spark).select("conv_id", "text").as[(String, String)]
      .collect().toSet
    val oldVersion = t.currentVersion
    t.rebucket(spark, 16)
    assert(t.snapshot().numBuckets == 16)
    assert(t.snapshot().files.forall(_.kind == "base")) // deltas folded
    assert(t.snapshot().files.map(_.bucket).toSet.size > 4)
    assert(t.read(spark).select("conv_id", "text").as[(String, String)]
      .collect().toSet == before)
    // point lookup uses the NEW layout's hash
    val (text, opened) =
      GraftTestFs.opening(t.readKey(spark, "c42", 1L).select("text").as[String].head())
    assert(text == "v142")
    val bucket = t.bucketOf(spark, "c42", 1L, 16)
    assert(opened.filter(_.endsWith(".parquet")).map(_.split("__bucket=")(1).split("/")(0))
      .distinct == Seq(bucket.toString), opened)
    // old snapshot still readable under its own layout
    assert(t.readVersion(spark, oldVersion).count() == before.size)
    // subsequent merge buckets by the new count
    CdcPipeline.applyBatch(t, Seq(ev(42, 401)).toDF(), 1)
    assert(t.readKey(spark, "c42", 1L).select("text").as[String].head() == "v401")
  }

  test("native lww_winner aggregate equals max_by on ties, nulls and duplicates") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 5000).map { i =>
      val key = s"k${rnd.nextInt(400)}"
      val ts = if (rnd.nextInt(50) == 0) null
        else new java.sql.Timestamp(1000L + rnd.nextInt(20)) // dense -> many ts ties
      // lsn unique: on an EXACT (ts, lsn) tie both max_by and lww_winner
      // keep an arbitrary row (real duplicates share identical content, so
      // that nondeterminism is invisible); dense ts still forces ties that
      // the lsn must break
      (key, s"payload-$i", ts, i.toLong, if (rnd.nextBoolean()) "U" else "I")
    }
    val df = rows.toDF("k", "text", "ts", "lsn", "op")
    val viaMaxBy = df.groupBy("k")
      .agg(max_by(struct(col("text"), col("ts"), col("lsn"), col("op")),
        struct(col("ts"), col("lsn"))).as("w"))
      .select(col("k"), col("w.text"), col("w.lsn"))
    val viaNative = df.groupBy("k")
      .agg(graft.functions.LwwWinner.lwwWinner(
        struct(col("text"), col("ts"), col("lsn"), col("op")),
        col("ts"), col("lsn")).as("w"))
      .select(col("k"), col("w.text"), col("w.lsn"))
    val a = viaMaxBy.as[(String, String, Long)].collect().sortBy(_._1).toSeq
    val b = viaNative.as[(String, String, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
    // and the plan is a hash aggregation, not a sort aggregation
    val plan = viaNative.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(!plan.contains("SortAggregate"), s"lww_winner must not sort:\n$plan")
  }

  test("write-time enrichment matches direct computation and tracks the winning row") {
    import graft.operators.TextAnalysis
    for (mode <- Seq("cow", "mor")) {
      val t = SnapTable.create(spark, tmpDir(s"table-$mode"), Schemas.payloadV2, numBuckets = 8)
      val opts = PipelineOptions(enrich = true, mergeMode = mode)
      def ev(i: Int, lsn: Long, text: String) = ChangeEvent(s"c$i", 1, "user", text, null,
        new java.sql.Timestamp(1000L + lsn), lsn, "U")
      CdcPipeline.applyBatch(t,
        (1 to 50).map(i => ev(i, 100 + i, s"the quick brown fox jumps over dog $i")).toDF(), 0, opts)
      // epoch 1 rewrites c1's text — enrichment must follow the new winner,
      // while untouched rows keep their epoch-0 values
      CdcPipeline.applyBatch(t,
        Seq(ev(1, 201, "der schnelle braune fuchs springt und springt")).toDF(), 1, opts)
      val got = t.read(spark)
      assert(Set("quality_bp", "lang_pred", "n_tokens").subsetOf(got.columns.toSet))
      val mismatches = got.filter(
        col("quality_bp") =!= TextAnalysis.qualityBp(col("text")) ||
        col("lang_pred") =!= TextAnalysis.languageId(col("text")) ||
        col("n_tokens") =!= TextAnalysis.tokenCount(col("text")))
      assert(mismatches.count() == 0, s"stale enrichment in $mode mode")
      assert(got.filter(col("conv_id") === "c1").select("lang_pred")
        .as[String].head() == "de")
    }
  }

  test("steady-state merge carries stored derived values; survivors do not re-derive") {
    import org.apache.spark.sql.types.IntegerType
    val t = SnapTable.create(spark, tmpDir("table-carry"), Schemas.payloadV2, numBuckets = 4)
    val acc = spark.sparkContext.longAccumulator("derive-evals")
    val counting = udf((s: String) => { acc.add(1); if (s == null) -1 else s.length })
      .asNondeterministic()
    val derived = graft.table.Derived(Nil,
      Seq(graft.table.DerivedColumn("txt_len", IntegerType, counting(col("text")))))
    def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"text number $i", null,
      new java.sql.Timestamp(1000L + lsn), lsn, "U")
    // epoch 0: empty table, batch dominates -> bare-reduce regime, every
    // fresh winner derives once
    t.merge((1 to 100).map(i => ev(i, 100 + i)).toDF(), 0, None, derived, Some(100L))
    assert(acc.value >= 100, s"every epoch-0 winner must derive, got ${acc.value}")
    acc.reset()
    // epoch 1: 5 updates into a 100-row table -> carry regime; the ~95
    // survivors keep their stored txt_len (coalesce short-circuits), only
    // the fresh winners evaluate the derivation
    t.merge((1 to 5).map(i => ev(i, 300 + i)).toDF(), 1, None, derived, Some(5L))
    assert(acc.value <= 10, s"survivors re-derived: ${acc.value} evals for a 5-row batch")
    val got = t.read(spark)
    assert(got.count() === 100)
    assert(got.filter(col("txt_len") =!= length(col("text"))).count() === 0,
      "carried/derived txt_len must equal length(text) on every row")
  }

  test("follow mode keeps tailing: a chunk delivered after start is ingested") {
    val log = tmpDir("changelog")
    val chunk1 = s"$log/chunk=00001"
    def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
      new java.sql.Timestamp(1000L + lsn), lsn, "I")
    (1 to 40).map(i => ev(i, 100 + i)).toDF()
      .write.parquet(s"$log/chunk=00000")
    val t = SnapTable.create(spark, tmpDir("table"), Schemas.payloadV2, numBuckets = 8)
    val q = CdcPipeline.stream(spark, log, t, tmpDir("ckpt"),
      PipelineOptions(followIntervalMs = Some(250L)))
    try {
      def await(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
        assert(cond, "timed out waiting for follow-mode ingest")
      }
      await(t.currentVersion >= 1 && t.read(spark).count() == 40)
      // the "binlog" grows while the query is live
      (41 to 60).map(i => ev(i, 200 + i)).toDF().write.parquet(chunk1)
      await(t.read(spark).count() == 60)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("dirty gate quarantines and enforces limits") {
    val good = Seq(ChangeEvent("c1", 1, "user", "x", null,
      new java.sql.Timestamp(1000), 1, "I"))
    val bad = Seq(
      ChangeEvent(null, 1, "user", "x", null, new java.sql.Timestamp(1000), 2, "I"),
      ChangeEvent("c2", 1, "user", "x", null, new java.sql.Timestamp(1000), 3, "Z"))
    val df = (good ++ bad).toDF()
    val split = Dirty.split(df, Dirty.envelopeRules)
    assert(split.clean.count() == 1)
    val reasons = split.dirty.select("__dirty_reason").as[String].collect().toSet
    assert(reasons == Set("conv_id_null", "op_domain"))
    intercept[DirtyLimitExceeded] { split.enforce(ErrorLimit(record = Some(0))) }
    intercept[DirtyLimitExceeded] { split.enforce(ErrorLimit(record = None, percentage = Some(0.5))) }
    split.enforce(ErrorLimit(record = Some(2)))
  }
}
