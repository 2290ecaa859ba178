package graft.cdc

import graft.model.Schemas
import graft.table.{MergeResult, SnapTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

import scala.jdk.CollectionConverters._

/** Per-epoch lineage record (north rule: per-partition source offset range,
  * rows applied, merge latency). */
final case class LineageRecord(
    epoch: Long,
    partitions: Seq[PartitionLineage],
    rowsIn: Long,
    rowsDirty: Long,
    rowsApplied: Long,
    bucketsRewritten: Int,
    mergeLatencyMs: Long,
    result: String)

final case class PartitionLineage(partition: Int, rows: Long, minLsn: Long, maxLsn: Long)

/**
 * Bounded-growth policy for a LONG-RUNNING ingest (`--follow-ms`
 * deployments): without it, snapshot manifests, expired data files,
 * tombstones, and per-epoch quarantine/lineage records all grow without
 * bound at 10^10-event scale. Applied post-commit every `everyEpochs`
 * epochs, ordered so the snapshot horizon is enforced LAST (tombstone
 * expiry commits its own snapshot versions). Reference analogue: the stream
 * reader's status-table cleanup of expired shard checkpoints
 * (reference: otsstreamreader/.../core/OTSStreamReaderMasterProxy.java:28-63).
 */
final case class RetentionPolicy(
    /** Keep this many most-recent snapshots (time-travel horizon); older
      * manifests and the data files only they reference are deleted. */
    retainSnapshots: Int = 10,
    /** Keep per-epoch quarantine + lineage records for this many epochs
      * behind the committed epoch. */
    retainMetaEpochs: Int = 50,
    /** When set, delete-op tombstones with `lsn < maxAppliedLsn - lag` are
      * physically dropped (their buckets rewritten). The lag must exceed
      * BOTH (a) the source's maximum out-of-order window — a tombstone
      * younger than the lag could still be outrun by a late stale update —
      * and (b) the maximum staleness of any incremental consumer
      * ([[Sync.sync]]/[[Sync.toJdbc]] resume watermarks): a consumer whose
      * watermark falls behind `maxAppliedLsn - lag` can never be delivered
      * the expired deletes. Expiry stamps the horizon into the table
      * manifest and the sync paths FAIL FAST (demanding a full resync) when
      * a resume watermark is below it, so mis-sizing is loud, not silent.
      * None = keep every tombstone. */
    tombstoneLsnLag: Option[Long] = None,
    /** Run the policy every N committed epochs (amortizes the maintenance
      * commits/scans across the steady state). */
    everyEpochs: Int = 10)

final case class PipelineOptions(
    errorLimit: ErrorLimit = ErrorLimit(record = None, percentage = Some(0.02)),
    maxFilesPerTrigger: Int = 8,
    /** Byte-rate budget per micro-batch — the reference channel's bps
      * throttle (reference: core/.../transport/channel/Channel.java:176-239
      * budgets BYTES per flow-control window, not only records). When set it
      * replaces the file-count trigger (Spark's file source treats the two
      * as alternative admission limits). The ledger source, which admits
      * whole chunks, refuses it. */
    maxBytesPerTrigger: Option[Long] = None,
    /** "cow" rewrites touched buckets per epoch (read-optimized); "mor"
      * appends delta files per epoch with O(batch) commit IO and defers the
      * cross-epoch reduce to read/compaction (write-optimized — the
      * steady-state CDC mode when most epochs touch most buckets). */
    mergeMode: String = "cow",
    /** In "mor" mode, auto-compact when outstanding delta files exceed
      * this many per bucket on average (bounds read amplification). */
    morCompactDeltasPerBucket: Int = 8,
    /** Per-event text enrichment (quality score, language id, token count)
      * applied before the merge — the training-data-pipeline ingest shape.
      * The enrichment columns reach the table via schema evolution. */
    enrich: Boolean = false,
    /** Max quarantined rows persisted per dirty reason per epoch (the
      * reference's StdoutPluginCollector keeps sampled dirty records for
      * inspection; we persist them under <table>/meta/dirty/). */
    dirtySampleN: Int = 100,
    /** None = drain what exists and stop (Trigger.AvailableNow — the batch
      * replay / catch-up shape). Some(ms) = keep tailing the changelog
      * directory at this poll interval (Trigger.ProcessingTime — the
      * long-running deployment shape; the query runs until stopped). */
    followIntervalMs: Option[Long] = None,
    /** Post-commit retention maintenance (None = unbounded growth — fine
      * for a bounded backfill, wrong for a follow-mode deployment). */
    retention: Option[RetentionPolicy] = None,
    /** Tail the changelog through [[graft.streaming.ChunkLedgerSource]]
      * (offset = chunk-directory watermark; per-trigger driver cost is one
      * O(chunks) dir listing, no seen-file map) instead of Spark's built-in
      * file source (which re-lists the whole tree and tracks every file) —
      * the 10^6+-changelog-file deployment shape. Requires the chunk-dir
      * layout contract documented on the source. `maxFilesPerTrigger` is
      * then interpreted as max CHUNKS per trigger. */
    ledgerSource: Boolean = false)

/**
 * The end-to-end CDC pipeline: changelog tail -> dirty sideband -> LWW dedup
 * -> snapshot-table MERGE, with per-epoch lineage. This is the Spark-native
 * replacement for the reference's reader-channel-writer task pipeline
 * (reference: core/.../taskgroup/TaskGroupContainer.java:356-566): the
 * bounded channel becomes Spark partition pipelining, the rate throttle
 * becomes `maxFilesPerTrigger`, the status-table checkpoint becomes the
 * Structured Streaming checkpoint + the table's epoch-idempotent commit.
 */
object CdcPipeline {

  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  /** Per-row text enrichment (quality score, language id, token count) as
    * write-time derived columns: one gated `textStats` single-pass eval per
    * FRESH winner (the prelude), three cheap projections reading from it. */
  val enrichmentColumns: graft.table.Derived = {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import graft.operators.TextAnalysis
    import graft.table.{Derived, DerivedColumn}
    val stats = col("__txtstats")
    Derived(
      prelude = Seq("__txtstats" -> TextAnalysis.textStats(col("text"))),
      cols = Seq(
        DerivedColumn("quality_bp", IntegerType,
          TextAnalysis.qualityBpFrom(col("text"), stats)),
        DerivedColumn("lang_pred", StringType, TextAnalysis.languageIdFrom(stats)),
        DerivedColumn("n_tokens", IntegerType, stats.getField("n_tokens"))))
  }

  /**
   * Apply one change batch exactly-once. Idempotent: replaying an epoch that
   * the table has already committed is a no-op (the epoch is recorded in the
   * same atomic snapshot commit as the data).
   */
  def applyBatch(table: SnapTable, batch: DataFrame, epoch: Long,
      opts: PipelineOptions = PipelineOptions()): LineageRecord = {
    val t0 = System.nanoTime()
    // NOT cached: the accounting agg and the merge each scan the source
    // once, and a columnar parquet re-scan (pushdown + pruning) is ~10x
    // cheaper than materializing an InMemoryRelation of the batch (measured
    // 0.5s vs 4-30s on a 2.1M-row batch).
    val tagged = batch.withColumn(Dirty.ReasonCol, Dirty.reason(Dirty.envelopeRules))
    // One aggregation pass yields the per-source-partition offset lineage,
    // the dirty accounting and the dirty samples (no extra scans of the
    // batch). collect_set of the merge bucket rides along so the merge can
    // skip its own touched-bucket scan (the hint names the bucket count it
    // was counted under)
    val numBuckets = table.snapshot().numBuckets
    val bucketCol = table.bucketExpr(numBuckets)
    val acct = tagged
      .groupBy(spark_partition_id().as("p"), col(Dirty.ReasonCol))
      .agg(count(lit(1)).as("rows"), min("lsn").as("lo"), max("lsn").as("hi"),
        collect_set(bucketCol).as("buckets"),
        lowestLsnDirty(tagged.columns.toIndexedSeq, opts.dirtySampleN).as("samples"))
      .collect()
    val parts = acct.groupBy(_.getInt(0)).map { case (p, rs) =>
      val los = rs.collect { case r if !r.isNullAt(3) => r.getLong(3) }
      val his = rs.collect { case r if !r.isNullAt(4) => r.getLong(4) }
      PartitionLineage(p, rs.map(_.getLong(2)).sum,
        if (los.isEmpty) -1L else los.min, if (his.isEmpty) -1L else his.max)
    }.toSeq.sortBy(_.partition)
    val byReason = acct.filterNot(_.isNullAt(1))
      .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val nClean = acct.filter(_.isNullAt(1)).map(_.getLong(2)).sum
    val stats = DirtyStats(nClean, byReason.values.sum, byReason.toMap)
    // Quarantine samples BEFORE the error-limit gate so a failed batch is
    // diagnosable from the persisted offenders (reference: dirty records
    // retained by TaskPluginCollector even when the job then aborts).
    if (stats.dirty > 0)
      writeDirtySamples(table, tagged, acct.filterNot(_.isNullAt(1)), epoch, opts.dirtySampleN)
    stats.enforce(opts.errorLimit)
    val touched = acct.filter(_.isNullAt(1))
      .flatMap(_.getSeq[Int](5)).toSet

    val clean = tagged.filter(col(Dirty.ReasonCol).isNull).drop(Dirty.ReasonCol)
    // Enrichment runs as write-time DERIVED columns inside the merge —
    // computed per WINNING row after the LWW reduce (~3x fewer evals than
    // per change event; stored rows keep their persisted values), not as a
    // per-event projection here.
    val derived = if (opts.enrich) enrichmentColumns else graft.table.Derived.none
    // No pre-merge dedup pass: the merge's own LWW aggregation reduces the
    // batch after the one bucket exchange that also brings in the stored
    // rows; both of its aggregate phases run there, none map-side.
    val mergeResult = opts.mergeMode match {
      // stats.clean (counted in the accounting pass above — no extra
      // scan) sizes the reduce's task count and lets the merge pick the
      // derived-column regime: re-derive winners while the replay batch
      // dominates, carry stored values once the table does
      case "cow" =>
        table.merge(clean, epoch, Some((numBuckets, touched)), derived, Some(stats.clean))
      case "mor" =>
        val r = table.mergeDelta(clean, epoch, derived, Some(stats.clean))
        // Long arithmetic: a large configured threshold (e.g. MaxValue =
        // "never auto-compact") times the bucket count overflows Int and
        // would flip this into compact-every-epoch
        val snap = table.snapshot()
        if (snap.files.count(_.kind == "delta").toLong >
            opts.morCompactDeltasPerBucket.toLong * snap.numBuckets)
          table.compact(batch.sparkSession)
        r
      case other => throw new IllegalArgumentException(s"mergeMode '$other'")
    }
    val (applied, buckets, result) = mergeResult match {
      case MergeResult.Committed(_, rows, b, _) => (rows, b, "committed")
      case MergeResult.SkippedEpoch => (0L, 0, "skipped_epoch")
    }
    val rec = LineageRecord(epoch, parts, stats.clean + stats.dirty, stats.dirty,
      applied, buckets, (System.nanoTime() - t0) / 1000000L, result)
    writeLineage(table, rec)
    opts.retention.foreach { pol =>
      if (result == "committed" && epoch % math.max(1, pol.everyEpochs) == 0)
        applyRetention(batch.sparkSession, table, pol, epoch)
    }
    rec
  }

  /** One maintenance round (see [[RetentionPolicy]]): tombstone expiry
    * first (it commits snapshots of its own), then the snapshot horizon,
    * then per-epoch quarantine/lineage GC — so a post-round table holds at
    * most `retainSnapshots` manifests and `retainMetaEpochs` epoch records
    * regardless of how long the stream has been running. */
  private def applyRetention(spark: SparkSession, table: SnapTable,
      pol: RetentionPolicy, epoch: Long): Unit = {
    pol.tombstoneLsnLag.foreach { lag =>
      val maxLsn = table.maxAppliedLsn(spark)
      if (maxLsn > lag) table.expireTombstones(spark, maxLsn - lag): Unit
    }
    table.expireSnapshots(pol.retainSnapshots): Unit
    gcEpochMeta(table, epoch - pol.retainMetaEpochs)
  }

  /** Delete the quarantine samples and lineage records of epochs strictly
    * below `beforeEpoch`, with the asides a crashed publish left: every
    * name under `meta/dirty` and `meta/lineage` carries its epoch as its
    * first run of digits ([[epochOf]]), including an earlier build's
    * `epoch-N/` sample dirs and `.tmp-epoch-*` asides. */
  private def gcEpochMeta(table: SnapTable, beforeEpoch: Long): Unit = {
    if (beforeEpoch <= 0) return
    for (sub <- Seq("dirty", "lineage")) {
      val dir = new Path(table.root, s"meta/$sub")
      if (table.fs.exists(dir)) table.fs.listStatus(dir)
        .filter(st => epochOf(st.getPath.getName).exists(_ < beforeEpoch))
        .foreach(st => table.fs.delete(st.getPath, true))
    }
  }

  /** The epoch a `meta/` sideband name carries: its first run of digits. */
  private def epochOf(name: String): Option[Long] =
    name.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLongOption

  /** A group's `n` lowest-lsn dirty rows, nulls first, as
    * array<struct<lsn, row>>: a bounded top-n aggregate (a heap of `n` per
    * group, not a list of the group), so `collect` returns at most
    * partitions x reasons x `n` rows. Rows of equal lsn order by their
    * columns, all of which are orderable in the change envelope. */
  private def lowestLsnDirty(cols: Seq[String], n: Int): Column = {
    val dirtyRow = when(col(Dirty.ReasonCol).isNotNull,
      struct(col("lsn").as("lsn"), struct(cols.map(col): _*).as("row")))
    // the companion is package-private: reverse = true keeps the smallest
    GraftExprBridge.column(new CollectTopK(GraftExprBridge.expression(dirtyRow),
      math.max(n, 1), true, 0, 0).toAggregateExpression())
  }

  /** Persist up to `n` offending rows per dirty reason for this epoch as
    * `<table>/meta/dirty/epoch-N.json` (row + __dirty_reason), alongside the
    * lineage JSON — the reference's sampled dirty-record capture
    * (reference: core/.../statistics/plugin/task/StdoutPluginCollector.java).
    * The rows come from the accounting pass's dirty groups ([[lowestLsnDirty]]
    * per partition and reason); this keeps each reason's `n` lowest-lsn
    * rows, ordered by reason and lsn, and encodes them on the driver: the
    * first line is the batch schema, then one JSON row per line (`to_json`
    * over a local relation, which Catalyst folds without a job). Two
    * writers racing the epoch publish identical samples; the first stands. */
  private def writeDirtySamples(table: SnapTable, tagged: DataFrame, dirtyGroups: Array[Row],
      epoch: Long, n: Int): Unit = {
    val lsnNullsFirst =
      Ordering.by((r: Row) => (!r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0)))
    val rows = dirtyGroups.groupBy(_.getString(1)).toSeq.sortBy(_._1).flatMap { case (_, gs) =>
      gs.flatMap(_.getSeq[Row](6)).sorted(lsnNullsFirst).take(n).map(_.getStruct(1))
    }
    val json = tagged.sparkSession.createDataFrame(rows.asJava, tagged.schema)
      .select(to_json(struct(col("*")), SampleJson)).collect().map(_.getString(0))
    table.publish(dirtySamplesPath(table, epoch), (tagged.schema.json +: json).mkString("\n")): Unit
  }

  /** JSON options of the sample file: the default timestamp formats keep
    * milliseconds, these keep every microsecond. */
  private val SampleJson = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def dirtySamplesPath(table: SnapTable, epoch: Long) =
    new Path(table.root, f"meta/dirty/epoch-$epoch%08d.json")

  /** Read back the quarantined sample rows of an epoch, with their stored
    * schema and in their stored order (None if the epoch had no dirty
    * rows). */
  def readDirtySamples(spark: SparkSession, table: SnapTable, epoch: Long): Option[DataFrame] = {
    val text = try table.readString(dirtySamplesPath(table, epoch))
      catch { case _: java.io.FileNotFoundException => return None }
    // to_json escapes newlines inside values, so each line is one row
    val lines = text.split('\n')
    val schema = DataType.fromJson(lines.head).asInstanceOf[StructType]
    import spark.implicits._
    val rows = lines.tail.toSeq.toDF("j")
      .select(from_json(col("j"), schema, SampleJson).as("r")).select("r.*").collect()
    Some(spark.createDataFrame(rows.toSeq.asJava, schema))
  }

  /** Publish the epoch's lineage record. Exactly one writer commits a given
    * epoch (the table's epoch guard), so the committed record owns
    * `epoch-N.json`; a REPLAYED or concurrently-racing consumer records its
    * skip under a distinct name, so it can never replace the committed
    * record. */
  private def writeLineage(table: SnapTable, rec: LineageRecord): Unit = {
    val name =
      if (rec.result == "committed") f"epoch-${rec.epoch}%08d.json"
      else f"epoch-${rec.epoch}%08d.skip-${System.nanoTime()}.json"
    val p = new Path(table.root, s"meta/lineage/$name")
    if (!table.publish(p, Serialization.write(rec)))
      System.err.println(s"[lineage] WARNING epoch ${rec.epoch} record " +
        s"(${rec.result}) not published: $p is taken")
  }

  /** Every readable lineage record, by epoch (then name: a committed record
    * before its epoch's skips). */
  def readLineage(spark: SparkSession, table: SnapTable): Seq[LineageRecord] = {
    val dir = new Path(table.root, "meta/lineage")
    val fs = table.fs
    if (!fs.exists(dir)) return Seq.empty
    // dot-names are publish asides; anything unparseable is an earlier
    // build's torn record — skip it loudly rather than fail the whole
    // observability read: lineage is a sideband, and the table's own epoch
    // guard (not lineage) is what enforces exactly-once
    fs.listStatus(dir).map(_.getPath.getName).filterNot(_.startsWith("."))
      .sortBy(n => (epochOf(n), n)).toSeq.flatMap { name =>
        // a record that vanishes between listStatus and read (a concurrent
        // GC) is skipped like a torn one
        try Some(Serialization.read[LineageRecord](table.readString(new Path(dir, name))))
        catch {
          case scala.util.control.NonFatal(t) =>
            System.err.println(s"[lineage] skipping unreadable record $name: ${t.getMessage}")
            None
        }
      }
  }

  /** Batch replay of an entire changelog directory in one merge epoch —
    * the bulk-backfill path. */
  def replayBatch(spark: SparkSession, changelogDir: String, table: SnapTable,
      opts: PipelineOptions = PipelineOptions(), epoch: Long = 0L): LineageRecord = {
    val df = spark.read.schema(Schemas.envelope)
      .option("recursiveFileLookup", "true").parquet(changelogDir)
    applyBatch(table, df, epoch, opts)
  }

  /**
   * Streaming tail of the changelog directory. `maxFilesPerTrigger` is the
   * rate-control knob (the reference's byte/record channel throttle,
   * reference: core/.../transport/channel/Channel.java:176-239); the
   * checkpoint dir is the resume point (the reference's status table,
   * otsstreamreader/.../config/StatusTableConstants.java:9-67). Restart with
   * the same checkpoint resumes from the first unprocessed file, and any
   * re-delivered epoch is skipped by the table's epoch guard.
   */
  def stream(spark: SparkSession, changelogDir: String, table: SnapTable,
      checkpointDir: String, opts: PipelineOptions = PipelineOptions()): StreamingQuery = {
    require(!(opts.ledgerSource && opts.maxBytesPerTrigger.isDefined),
      "maxBytesPerTrigger needs the file source: the ledger source admits whole " +
        "chunks (maxFilesPerTrigger chunks per trigger)")
    val trigger = opts.followIntervalMs
      .map(ms => Trigger.ProcessingTime(ms)).getOrElse(Trigger.AvailableNow())
    if (opts.ledgerSource) {
      // chunk-ledger tail: the stream carries file MANIFEST rows (bounded:
      // files of <= maxChunks chunk dirs per trigger); the batch body reads
      // the listed parquet itself with the envelope schema, so pre-evolution
      // files align exactly like the built-in path
      val manifest = spark.readStream
        .format(classOf[graft.streaming.ChunkLedgerSource].getName)
        .option("path", changelogDir)
        .option("maxChunksPerTrigger", math.max(1, opts.maxFilesPerTrigger))
        .load()
      return manifest.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (m: DataFrame, epoch: Long) =>
          val paths = m.select("path").collect().map(_.getString(0))
          if (paths.nonEmpty) {
            val batch = spark.read.schema(Schemas.envelope)
              .parquet(paths.toIndexedSeq: _*)
            applyBatch(table, batch, epoch, opts): Unit
          }
        }
        .start()
    }
    val reader = spark.readStream
      .schema(Schemas.envelope)
      .option("recursiveFileLookup", "true")
    val src = (opts.maxBytesPerTrigger match {
      case Some(bytes) => reader.option("maxBytesPerTrigger", bytes)
      case None => reader.option("maxFilesPerTrigger", opts.maxFilesPerTrigger)
    }).parquet(changelogDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        applyBatch(table, batch, epoch, opts): Unit
      }
      .start()
  }
}
