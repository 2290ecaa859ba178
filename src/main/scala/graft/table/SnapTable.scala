package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, Expression,
  Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** One committed table state: an immutable list of data files + schema. */
final case class Snapshot(
    version: Long,
    parent: Long,
    numBuckets: Int,
    currentSchemaV: Int,
    schemaVersions: Map[String, String], // schemaV -> DDL
    files: Seq[DataFileEntry],
    props: Map[String, String],
    rows: Long) {
  def schema: StructType = StructType.fromDDL(schemaVersions(currentSchemaV.toString))
  def lastEpoch: Long = props.get(SnapTable.PropLastEpoch).map(_.toLong).getOrElse(-1L)
}

/** `kind` = "base" (fully merged) or "delta" (merge-on-read overlay written
  * without rewriting its bucket; reduced away at read/compaction).
  * `minLsn`/`maxLsn` are parquet footer column statistics captured at
  * manifest time — the pruning index for incremental (`readChangesSince`)
  * consumers; None when footer stats were unavailable (file must then be
  * assumed to overlap any range). */
final case class DataFileEntry(path: String, bucket: Int, schemaV: Int, rows: Long,
    kind: String = "base", minLsn: Option[Long] = None, maxLsn: Option[Long] = None)

/** Write-time derived column: computed from each WINNING row exactly once
  * over the row's lifetime — stored rows keep their persisted value
  * (coalesce short-circuits in codegen), and losing duplicate/superseded
  * change events are never evaluated at all. The static `dataType` keeps
  * schema evolution deterministic (the column joins the target schema
  * before any plan binds). `expr` may reference the group's prelude
  * columns (see [[Derived]]). */
final case class DerivedColumn(name: String, dataType: DataType,
    expr: org.apache.spark.sql.Column)

/** A group of derived columns with optional shared PRELUDE expressions.
  * Codegen subexpression elimination does not look inside conditional
  * branches, so N derived columns that each embed the same expensive
  * subtree under their coalesce would evaluate it N times; a prelude names
  * the subtree once, gated on the rows that actually need deriving, and
  * the column exprs read from it (the prelude column lives in its own
  * projection — CollapseProject keeps non-cheap multi-referenced
  * expressions un-inlined — and never reaches disk). */
final case class Derived(prelude: Seq[(String, org.apache.spark.sql.Column)],
    cols: Seq[DerivedColumn]) {
  def isEmpty: Boolean = cols.isEmpty
}
object Derived {
  val none: Derived = Derived(Nil, Nil)
  def apply(cols: DerivedColumn*): Derived = Derived(Nil, cols.toSeq)
}

sealed trait MergeResult
object MergeResult {
  /** epoch already committed — replay skipped (exactly-once). */
  case object SkippedEpoch extends MergeResult
  final case class Committed(version: Long, rowsWritten: Long, bucketsRewritten: Int,
      schemaEvolved: Boolean) extends MergeResult
}

/**
 * Iceberg-style snapshot table: parquet data files + JSON snapshot
 * manifests, the newest of which is the current version. Built from scratch
 * (no Iceberg jar in this environment) but with the same guarantees the
 * north star asks of Iceberg:
 *
 *  - **Snapshot isolation / atomic commit** — a commit is: write the data
 *    files, write the manifest aside, claim `meta/snap-<v>.json` for it with
 *    one atomic no-replace step (see [[tryCommit]]). Readers resolve the
 *    version once and only ever see a fully committed file list.
 *    (Reference analogue: HdfsWriter's temp-dir + rename two-phase
 *    commit, reference: hdfswriter/.../HdfsWriter.java:190-191, 288-321, and
 *    OdpsWriter's disjoint block-id commit, odpswriter/.../OdpsWriter.java:
 *    158-160.)
 *  - **Exactly-once upsert** — `merge(batch, epoch)` records the epoch in the
 *    snapshot properties *in the same commit* as the data; a replayed epoch
 *    (<= lastEpoch) is a no-op. (Reference analogue: shard checkpoint
 *    `(shardIterator, skipCount, version)`, otsstreamreader/.../model/
 *    ShardCheckpoint.java:8-118.)
 *  - **Schema evolution** — new nullable columns and numeric widening are
 *    merged into the table schema at merge time; old files keep their
 *    physical schema and are aligned lazily at read (per-file-group schema
 *    versions), exactly like Iceberg's lazy evolution. No data rewrite.
 *  - **MERGE INTO semantics** — last-writer-wins by (ts, lsn) between stored
 *    rows and the incoming batch; `op='D'` winners become tombstones
 *    (retained, filtered at read) so a delete can never be undone by a late
 *    out-of-order update — the monotone-merge rule of SURVEY.md §7.4.
 *
 * Scale design: data files are hash-bucketed on the merge key (`numBuckets`,
 * thousands in production). A merge rewrites ONLY the buckets the batch
 * touches (copy-on-write at bucket granularity), and the bucket column is
 * both the shuffle key and the file layout, so merge shuffle and file IO are
 * proportional to the touched fraction, not table size.
 *
 * `conf` is the Hadoop conf `fs` was made with (the session's at load or
 * create): the parquet files the table opens itself, footers and point
 * reads, are read with it.
 */
final class SnapTable private (val root: String, private[graft] val fs: FileSystem,
    conf: Configuration) {
  import SnapTable._

  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  // ---- metadata IO --------------------------------------------------------

  private def metaDir = new Path(root, "meta")
  private def snapPath(v: Long) = new Path(metaDir, f"snap-$v%08d.json")

  /** The filesystem below any checksumming wrapper: manifests and their
    * asides carry no `.crc` sidecar. */
  private val raw = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private[graft] def readString(p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Current version: the newest listed manifest. Every listed manifest is
    * whole, because [[tryCommit]] only ever publishes a closed one (and
    * [[SnapTable.load]] deletes a torn one an earlier build left). */
  def currentVersion: Long = history.lastOption.getOrElse(0L)

  def snapshot(version: Long = currentVersion): Snapshot = parsed(version)
    .getOrElse(throw new java.io.FileNotFoundException(s"$root has no version $version"))

  /** The manifest of `version`, or None when retention deleted it after it
    * was listed, or when it is not whole JSON. Earlier builds claimed a
    * version by creating its manifest and writing through it, so a kill
    * mid-claim left a torn `snap-*.json`; [[tryCommit]] never lists a
    * partial manifest, so such a file can only be that leftover, and it is
    * deleted here (see also [[SnapTable.load]]). */
  private def parsed(version: Long): Option[Snapshot] = {
    val text = try readString(snapPath(version))
      catch { case _: java.io.FileNotFoundException => return None }
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(text)) match {
      case scala.util.Success(json: JObject) => Some(json.extract[Snapshot])
      case _ => fs.delete(snapPath(version), false); None
    }
  }

  /** Every listed manifest version, ascending. */
  def history: Seq[Long] =
    Option(fs.globStatus(new Path(metaDir, "snap-*.json"))).getOrElse(Array())
      .map(_.getPath.getName.stripPrefix("snap-").stripSuffix(".json").toLong).sorted.toSeq

  /** Each listed manifest that is still there to read. */
  private def manifests: Seq[(Long, Snapshot)] = history.flatMap(v => parsed(v).map(v -> _))

  private[table] def commit(s: Snapshot): Unit =
    require(tryCommit(s), s"snapshot ${s.version} already exists (concurrent writer)")

  /**
   * Publish `content` as the file `target` in one step every `meta/` file
   * shares; false when the name was already taken. The content is written
   * ASIDE through the raw FS (no `.crc` sidecar) under a dot-name in the
   * same dir ([[SnapTable.asideName]]), claimed under `target` by one
   * atomic no-replace step, then the aside is deleted — so a listed file
   * is always whole, and a crash at any step leaves at most a stale aside.
   * The claim is `link(2)` on local filesystems (EEXIST on an existing
   * name; POSIX rename and Hadoop's local rename overwrite or
   * check-then-act) and `rename` elsewhere (fails on an existing
   * destination, atomic on HDFS). An aside that vanished before its claim
   * (retention collected it) loses.
   */
  private[graft] def publish(target: Path, content: String): Boolean = {
    val aside = new Path(target.getParent, asideName(target.getName))
    val out = raw.create(aside, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val won = raw match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        def local(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
        try { java.nio.file.Files.createLink(local(target), local(aside)); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.NoSuchFileException =>
            false
        }
      case _ => try raw.rename(aside, target)
        catch { case _: java.io.FileNotFoundException => false }
    }
    raw.delete(aside, false) // the link's source, or a lost claim's
    won
  }

  /**
   * Publish `s` as version `s.version` ([[publish]] of its manifest); false
   * when another writer published that version first (optimistic
   * concurrency: the caller re-reads the new current snapshot and retries
   * its operation against it, Iceberg-style). A stale manifest aside is
   * collected by [[expireSnapshots]].
   *
   * A writer targets its snapshot's version + 1 and never burns a number, so
   * versions are gap-free above the retention floor. A publish whose parent
   * is no longer listed loses without claiming: retention deletes manifests
   * ascending, so its slot may have been freed under a writer that stalled
   * past newer publishes, and claiming it would list a manifest off the
   * current chain whose parent's files may be deleted. That check and the
   * claim are two steps, so a won publish is checked again: it stands if
   * its parent is still listed or it is the newest version (retention keeps
   * the newest). Otherwise the slot may have been freed between the two
   * steps, or a newer publish and a retention round both landed just after
   * the claim; the two cannot be told apart, so this throws and deletes
   * nothing, and re-applying the operation either lands it or finds its
   * epoch applied.
   */
  private[table] def tryCommit(s: Snapshot): Boolean = {
    def parentListed = s.parent < 0 || fs.exists(snapPath(s.parent)) // version 0 has none
    val won = parentListed && publish(snapPath(s.version), Serialization.write(s))
    if (won && !parentListed && currentVersion != s.version)
      throw new IllegalStateException(s"version ${s.version} was published while retention " +
        s"expired its parent ${s.parent}: it may hang off the current chain; re-apply the " +
        "operation (it lands, or its epoch is found applied)")
    won
  }

  // ---- read path ----------------------------------------------------------

  /** Bucket assignment hashes CANONICALLY-CAST key columns (integral keys
    * always as long) so the bucket of a key is invariant under merge-key
    * type widening — rows written before an int->long evolution land in the
    * same bucket as rows after it. */
  private[graft] def bucketExpr(numBuckets: Int): Column =
    bucketHash(graft.model.Schemas.mergeKeyCanonicalTypes.map(p => col(p._1)), numBuckets)

  /** The layout hash of merge-key values given in `mergeKeys` order. */
  private def bucketHash(keys: Seq[Column], numBuckets: Int): Column =
    pmod(xxhash64(keys.zip(graft.model.Schemas.mergeKeyCanonicalTypes)
      .map { case (k, (_, t)) => k.cast(t) }: _*), lit(numBuckets)).cast("int")

  /** Refuse hash-dependent operations on a table laid out by a DIFFERENT
    * bucket-function version than this build computes: merging with a
    * changed hash silently strands stored rows in buckets the touched-set
    * no longer matches (duplicate keys across buckets, stale point reads).
    * The layout's hash version is stamped in the snapshot props at create
    * time and updated by [[rebucket]] — the one operation that can migrate
    * a legacy table (it rewrites every row under the current hash). Tables
    * created before the stamp existed default to version 1 (pre-canonical-
    * cast hashing) and must be rebucketed before any merge. */
  private def requireBucketFn(snap: Snapshot): Unit = {
    val stored = snap.props.get(PropBucketFn)
    if (!stored.contains(BucketFnVersion.toString)) {
      val detail = stored match {
        case Some(v) =>
          s"was bucketed with hash version $v but this build uses $BucketFnVersion" +
            " — run rebucket() to migrate the layout (full rewrite) before merging"
        case None =>
          "predates the bucket-hash stamp, so its layout hash version is " +
            s"unknown (this build uses $BucketFnVersion). If the table was " +
            "created by a recent pre-stamp build its layout is already " +
            s"version $BucketFnVersion and stampBucketFn() (a props-only " +
            "commit, no data rewrite) is enough; a genuinely old version-1 " +
            "layout needs rebucket() (full rewrite)."
      }
      throw new IllegalArgumentException(s"table at $root $detail")
    }
  }

  /** Re-stamp the layout's bucket-hash version WITHOUT rewriting data — the
    * migration for tables created by pre-stamp builds whose physical layout
    * already matches `version` (the caller asserts that; a wrong stamp
    * silently strands keys across buckets, which is exactly what
    * [[requireBucketFn]] exists to prevent — when in doubt, rebucket()). */
  def stampBucketFn(version: Int = SnapTable.BucketFnVersion): Unit = {
    val snap = snapshot()
    commit(snap.copy(version = snap.version + 1, parent = snap.version,
      props = snap.props + (PropBucketFn -> version.toString)))
  }

  /** Read the given files, aligning every physical schema generation to the
    * target schema (missing columns -> null, widened types -> cast). */
  private def readAligned(spark: SparkSession, snap: Snapshot,
      files: Seq[DataFileEntry], target: StructType): DataFrame = {
    if (files.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    val bySchema = files.groupBy(_.schemaV)
    bySchema.map { case (sv, fe) =>
      val physical = StructType.fromDDL(snap.schemaVersions(sv.toString))
      val df = spark.read.schema(physical).parquet(fe.map(f => s"$root/${f.path}"): _*)
      SchemaEvolution.align(df, target)
    }.reduce(_ unionByName _)
  }

  /** Current winner rows (tombstones retained, envelope retained). For a
    * pure-base table this is a plain scan; when merge-on-read deltas exist,
    * the per-key LWW reduce runs at read time (same `lww_winner (ts, lsn)` the
    * CoW merge applies at write time, so both modes expose identical
    * state). */
  def readRaw(spark: SparkSession): DataFrame = {
    val snap = snapshot()
    readWinners(spark, snap, snap.files, live = false)
  }

  /** The winner rows among `files` of `snap`, LWW-reduced iff a delta is
    * among the files; `live` drops tombstones and the `op` column (user
    * reads). */
  private def readWinners(spark: SparkSession, snap: Snapshot, files: Seq[DataFileEntry],
      live: Boolean = true): DataFrame = {
    val all = readAligned(spark, snap, files, snap.schema)
    val reduced = if (!files.exists(_.kind == "delta")) all
      else graft.functions.LwwWinner.winners(all, Schemas.keyCols, snap.schema.fieldNames.toSeq)
    if (live) reduced.filter(col("op") =!= "D").drop("op") else reduced
  }

  /** User-facing state: tombstones dropped. */
  def read(spark: SparkSession): DataFrame = readVersion(spark, currentVersion)

  /** Time travel. */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val snap = snapshot(version)
    readWinners(spark, snap, snap.files)
  }

  /**
   * Multi-version read: every retained (key, lsn) state across ALL snapshot
   * versions — the per-key change history at per-epoch-winner granularity,
   * with `first_version` = the table version where that state first became
   * visible. The reference's CDC reader has the same dual output: single-
   * version latest-state vs cell-level multi-version history (reference:
   * otsstreamreader/.../core/MultiVerModeRecordSender.java vs
   * SingleVerAndUpOnlyModeRecordSender.java).
   *
   * Scan cost is O(DISTINCT files), not O(versions x files): data files are
   * immutable and a removed path is never re-listed, so each file is read
   * exactly once, tagged with the earliest version whose manifest lists it;
   * a row's `first_version` is then the min over its containing files (CoW
   * rewrites copy surviving rows forward into later-added files). Manifest
   * resolution is still O(versions) driver-side reads.
   */
  def readVersionHistory(spark: SparkSession): DataFrame = {
    val snaps = manifests.filter(_._1 > 0)
    require(snaps.nonEmpty, "table has no committed data versions")
    // the schema lattice only adds nullable columns / widens, so the newest
    // retained schema is the union the old per-version unionByName produced
    val target = snaps.last._2.schema
    // physical-schema dictionary merged across retained snapshots (a very
    // old file's schemaV entry may predate the newest manifest)
    val ddlByV = snaps.map(_._2.schemaVersions).reduce(_ ++ _)
    val firstListed = scala.collection.mutable.LinkedHashMap.empty[String, (DataFileEntry, Long)]
    for ((v, s) <- snaps; f <- s.files if !firstListed.contains(f.path))
      firstListed(f.path) = (f, v)
    val all = firstListed.values.toSeq.groupBy { case (f, v) => (f.schemaV, v) }
      .toSeq.map { case ((sv, vAdd), fs) =>
        val physical = StructType.fromDDL(ddlByV(sv.toString))
        val df = spark.read.schema(physical)
          .parquet(fs.map { case (f, _) => s"$root/${f.path}" }: _*)
        SchemaEvolution.align(df, target).withColumn("__v", lit(vAdd))
      }.reduce(_ unionByName _)
    val dataCols = target.fields.map(_.name).toSeq
    // rows for one (key, lsn) are identical across copies (files are
    // immutable); keep the newest copy + the first version seen
    all.groupBy((Schemas.keyCols :+ "lsn").map(col): _*)
      .agg(min(col("__v")).as("first_version"),
        max_by(struct(dataCols.map(col): _*), col("__v")).as("w"))
      .select(col("first_version") +: dataCols.map(n => col(s"w.$n").as(n)): _*)
  }

  def committedEpoch: Long = if (currentVersion == 0) -1L else snapshot().lastEpoch

  // ---- MERGE --------------------------------------------------------------

  /**
   * LWW MERGE of a change batch (envelope columns required: ts, lsn, op).
   * Equivalent Iceberg SQL (SURVEY.md §3.3):
   *   MERGE INTO t USING batch s ON t.conv_id=s.conv_id AND t.turn_idx=s.turn_idx
   *   WHEN MATCHED AND (s.ts, s.lsn) > (t.ts, t.lsn) THEN UPDATE SET *
   *   WHEN NOT MATCHED THEN INSERT *        -- deletes become tombstones
   *
   * `knownTouched` is an optional precomputed touched-bucket hint,
   * `(numBuckets, bucket ids)`: the pipeline derives it in the same
   * aggregation pass as its lineage accounting, saving a scan, and an
   * attempt uses it only when its own snapshot has that bucket count (a
   * concurrent [[rebucket]] changes the layout under it); otherwise the
   * attempt recomputes the set. Write-time [[DerivedColumn]]s are computed
   * on winner rows AFTER the reduce, and `batchRowsHint` picks how stored
   * rows' derived values travel through it (see [[reduceAndWrite]]) and
   * sizes the reduce (see [[SnapTable.lwwTasks]]).
   */
  def merge(batch: DataFrame, epoch: Long, knownTouched: Option[(Int, Set[Int])] = None,
      derived: Derived = Derived.none,
      batchRowsHint: Option[Long] = None): MergeResult =
    epochWrite(batch, epoch, derived, batchRowsHint, "base") { snap =>
      // copy-on-write only the touched buckets
      val touched = knownTouched.collect { case (n, ids) if n == snap.numBuckets => ids }
        .getOrElse(batch.select(bucketExpr(snap.numBuckets)).distinct().collect()
          .map(_.getInt(0)).toSet)
      (snap.files.filter(f => touched(f.bucket)), touched)
    }

  /** One epoch write, retried until it commits or finds its epoch applied:
    * `fold` names the stored files the attempt's snapshot folds in and the
    * buckets it writes. */
  private def epochWrite(batch: DataFrame, epoch: Long, derived: Derived,
      batchRowsHint: Option[Long], kind: String)(
      fold: Snapshot => (Seq[DataFileEntry], Set[Int])): MergeResult =
    retryingCommit {
      val snap = snapshot()
      requireBucketFn(snap)
      if (epoch <= snap.lastEpoch) Some(MergeResult.SkippedEpoch)
      else {
        val (files, written) = fold(snap)
        reduceAndWrite(batch.sparkSession, snap, evolve(snap, batch.schema, derived, epoch),
          files, Some((batch, batchRowsHint)), written, derived, kind = kind)
      }
    }

  /**
   * Run one optimistic attempt of `op` per loop iteration and return the
   * value of the attempt that commits; an attempt returns None when another
   * writer claimed its target version first, in which case the operation
   * is recomputed against the NEW current snapshot (Iceberg's
   * optimistic-concurrency loop). The epoch guard is
   * re-evaluated inside each attempt, so two ingest jobs racing the same
   * epoch resolve to exactly one Committed and one SkippedEpoch.
   */
  private def retryingCommit[A](op: => Option[A]): A = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      op match {
        case Some(r) => return r
        case None =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException(
      s"commit conflicted $MaxCommitAttempts times — giving up (livelocked writers?)")
  }

  private val MaxCommitAttempts = 5

  /** Test seam: runs right before an attempt's commit (lets a test inject
    * a competing writer into the conflict window). */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Schema evolution of an epoch write (driver-side, before any executor
    * plan binds — SURVEY.md §7.4 risk 4): `snap` edited to record the
    * table schema widened by the batch plus the derived columns (a new
    * schema version only when it changed) together with the epoch. */
  private def evolve(snap: Snapshot, batchSchema: StructType, derived: Derived,
      epoch: Long): Snapshot = {
    val target = SnapTable.withDerived(SchemaEvolution.merge(snap.schema, batchSchema), derived)
    val props = snap.props + (PropLastEpoch -> epoch.toString)
    if (target.toDDL == snap.schema.toDDL) snap.copy(props = props)
    else {
      val v = snap.currentSchemaV + 1
      snap.copy(currentSchemaV = v,
        schemaVersions = snap.schemaVersions + (v.toString -> target.toDDL), props = props)
    }
  }

  /**
   * The commit protocol every data-writing operation shares: write `rows`
   * (carrying [[BucketCol]]) under a fresh per-attempt commit dir, manifest
   * the written files from their parquet footers, and claim the next
   * version for `edited` — `snap` plus the operation's manifest edits —
   * with the written files in place of `replaced`. A lost claim deletes
   * this attempt's dir and returns None, so [[retryingCommit]] recomputes
   * against the winner's snapshot. `bucketsRewritten` of the result is the
   * number of distinct buckets written.
   */
  private def writeAndClaim(snap: Snapshot, edited: Snapshot, rows: DataFrame,
      replaced: Seq[DataFileEntry], kind: String): Option[MergeResult.Committed] = {
    val version = snap.version + 1
    val rel = SnapTable.commitDir(version)
    rows.write.mode("overwrite").partitionBy(BucketCol).parquet(s"$root/$rel")
    val written = listBucketFiles(rows.sparkSession, s"$root/$rel", rel,
      edited.currentSchemaV, kind)
    val files = snap.files.filterNot(replaced.toSet) ++ written
    beforeCommitHook()
    if (!tryCommit(edited.copy(version = version, parent = snap.version, files = files,
        rows = files.map(_.rows).sum))) {
      fs.delete(new Path(root, rel), true)
      None
    } else Some(MergeResult.Committed(version, written.map(_.rows).sum,
      written.map(_.bucket).distinct.size, edited.currentSchemaV != snap.currentSchemaV))
  }

  /**
   * The reduce-and-write core of every data-writing operation: the LWW
   * winners of the stored `fold` files plus the optional batch (with its
   * row count when known), hashed into `edited`'s buckets (`written` of
   * which receive rows) in ONE shuffle that is also the file layout (see
   * [[SnapTable.lwwWinners]]), filtered by `keep`, with the derived columns
   * projected on, committed as `edited` in place of `fold`.
   *
   * Two regimes for derived columns (measured both ways): replay/backfill
   * (batch >> stored) reduces the BARE envelope and re-derives winners —
   * deriving per change event does ~10x the evals (the bench stream folds
   * 10.5M events to 861k winners), and even null slots for the columns on
   * every shuffled change event (≈ 5s/epoch at 10M events) cost more than
   * re-deriving the few survivors (~1s). Steady state (stored > batch)
   * CARRIES the stored rows' persisted values through the reduce —
   * applyDerived's gated coalesce then recomputes only the winners whose
   * values are null (fresh rows, pre-enrichment files) — because a
   * survivor's textStats pass costs far more than the wider rows. An
   * unknown batch size counts as the larger side; a rewrite with no batch
   * always carries.
   *
   * A rewrite with no batch is a maintenance pass and also clusters rows by
   * merge key within each bucket file, so parquet row-group min/max stats
   * line up with key ranges — point lookups ([[readKey]]) skip row groups,
   * and key-adjacent text compresses better. Ingest never pays this sort.
   */
  private def reduceAndWrite(spark: SparkSession, snap: Snapshot, edited: Snapshot,
      fold: Seq[DataFileEntry], batch: Option[(DataFrame, Option[Long])], written: Set[Int],
      derived: Derived = Derived.none, keep: Option[Column] = None,
      kind: String = "base"): Option[MergeResult.Committed] = {
    val stored = fold.map(_.rows).sum
    val target = edited.schema
    val names = derived.cols.map(_.name)
    val carried = if (batch.forall(_._2.exists(stored > _)))
      names.filter(snap.schema.fieldNames.contains) else Nil
    // the reduce runs over the table schema minus the derived columns it
    // does not carry; carried ones move to the end
    val schema = StructType(target.filterNot(f => names.contains(f.name)) ++ carried.map(target(_)))
    val storedRows = if (fold.isEmpty && batch.nonEmpty) None
      else Some(readAligned(spark, snap, fold, schema))
    val rows = (storedRows ++ batch.map(b => SchemaEvolution.align(b._1, schema)))
      .map(_.withColumn(BucketCol, bucketExpr(edited.numBuckets))).reduce(_ unionByName _)
    val winners = SnapTable.lwwWinners(rows, schema, written,
      batch.fold(Option(stored))(_._2.map(_ + stored)))
    val out = SnapTable.applyDerived(keep.fold(winners)(winners.filter), derived)
    writeAndClaim(snap, edited, if (batch.nonEmpty) out
      else out.sortWithinPartitions((BucketCol +: Schemas.keyCols).map(col): _*), fold, kind)
  }

  /** Above this many files per commit, footer row-counts are read on the
    * EXECUTORS (one task per slice of the file list) instead of
    * driver-threads — the manifest step stays O(files / cluster) at
    * thousands-of-buckets scale instead of serializing on the driver. */
  private val DriverManifestMax = 256

  private def listBucketFiles(spark: SparkSession, abs: String, rel: String,
      schemaV: Int, kind: String): Seq[DataFileEntry] = {
    val stats = Option(fs.globStatus(new Path(abs, s"$BucketCol=*/part-*")))
      .getOrElse(Array()).toSeq
    val named = stats.map { st =>
      val bucket = st.getPath.getParent.getName.stripPrefix(s"$BucketCol=").toInt
      (st.getPath.toString, bucket, st.getPath.getName)
    }
    val counted: Seq[(String, Int, String, SnapTable.FooterStats)] =
      if (named.size <= DriverManifestMax) {
        // footer reads are independent -> parallel on the driver
        import scala.collection.parallel.CollectionConverters._
        named.par.map { case (p, b, n) => (p, b, n, SnapTable.footerStats(p, conf)) }
          .seq.toSeq
      } else {
        val slices = math.min(named.size, spark.sparkContext.defaultParallelism * 2)
        // ship the table's Hadoop conf (spark.hadoop.* — object-store
        // credentials, endpoints) to the executor-side footer readers; a bare
        // new Configuration() there would read the wrong filesystem config
        val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
        spark.sparkContext.parallelize(named, slices).map { case (p, b, n) =>
          (p, b, n, SnapTable.footerStats(p, serConf.value))
        }.collect().toSeq
      }
    counted.map { case (_, bucket, name, st) =>
      DataFileEntry(s"$rel/$BucketCol=$bucket/$name", bucket, schemaV, st.rows, kind,
        st.minLsn, st.maxLsn)
    }
  }

  // ---- pruned read paths ----------------------------------------------------

  /** `bucketHash` resolved over two bound key inputs, per bucket count. */
  private val bucketFns = new java.util.concurrent.ConcurrentHashMap[Int, Expression]()

  /** Bucket of one concrete key: the layout's own hash expression, resolved
    * by the analyzer once per bucket count over bound (string, long) key
    * inputs and evaluated interpreted on the driver (no Spark job, no
    * codegen, no analyzer pass per key). */
  private[graft] def bucketOf(spark: SparkSession, convId: String, turnIdx: Long,
      buckets: Int): Int =
    bucketFns.computeIfAbsent(buckets, n => {
      val keys = spark.createDataFrame(java.util.List.of[Row](), StructType(
        graft.model.Schemas.mergeKeyCanonicalTypes.map { case (k, t) =>
          StructField(k, DataType.fromDDL(t)) }))
      val hash = keys.select(bucketHash(keys.columns.toSeq.map(col), n))
        .queryExecution.analyzed.expressions.head
      BindReferences.bindReference(hash, keys.queryExecution.analyzed.output)
    }).eval(InternalRow(UTF8String.fromString(convId), turnIdx)).asInstanceOf[Int]

  /**
   * Point lookup, done on the driver with no Spark job: prune to the single
   * bucket of the key, read that bucket's rows of the key with a parquet
   * reader through the table's filesystem, LWW-reduce them when a delta is
   * among the files (the (ts, lsn) order of `LwwWinner`, nulls smallest),
   * and drop tombstones and `op`. IO is O(table/numBuckets), the KV-get
   * path (reference analogue: OTS/HBase row gets). The rows come back as a
   * local frame, so collecting it compiles nothing; it equals
   * `read(spark)` filtered to the key, schema included.
   */
  def readKey(spark: SparkSession, convId: String, turnIdx: Long): DataFrame = {
    val snap = snapshot()
    requireBucketFn(snap)
    val b = bucketOf(spark, convId, turnIdx, snap.numBuckets)
    val files = snap.files.filter(_.bucket == b)
    val target = snap.schema
    val readConf = parquetReadConf(spark)
    val rows = files.flatMap(f => keyRows(spark, readConf, snap, f, convId, turnIdx))
    val Seq(ts, lsn, op) = Seq("ts", "lsn", "op").map(target.fieldIndex)
    def order(r: InternalRow, i: Int) = if (r.isNullAt(i)) Long.MinValue else r.getLong(i)
    // all rows share the key, so its LWW winner is the first greatest (ts, lsn)
    val winners = if (!files.exists(_.kind == "delta")) rows
      else rows.maxByOption(r => (order(r, ts), order(r, lsn))).toSeq
    val live = winners.filter(r => !r.isNullAt(op) && r.getUTF8String(op).toString != "D")
    val kept = target.fields.indices.filter(_ != op)
    val schema = StructType(kept.map(i => target(i).copy(nullable = true)))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(live.map(r => toRow(InternalRow.fromSeq(
      kept.map(i => r.get(i, target(i).dataType)))).asInstanceOf[Row]).asJava, schema)
  }

  /** The table's conf plus the settings Spark's parquet scan hands its row
    * converter (`ParquetFileFormat` sets the same keys from the session). */
  private def parquetReadConf(spark: SparkSession): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(conf)
    val sql = spark.sessionState.conf
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    c
  }

  /** The rows of key (`convId`, `turnIdx`) in the data file `f`, as catalyst
    * rows aligned to `snap`'s schema the way [[SchemaEvolution.align]]
    * aligns a frame: a missing column is null, a widened one is cast. The
    * file is read with Spark's own parquet row converter; the datetime
    * rebase modes come from the file's metadata and the session, as Spark's
    * scan derives them. Its INT96 time zone conversion applies only to
    * files that parquet-mr did not write, and this table's files are all
    * Spark's. */
  private def keyRows(spark: SparkSession, readConf: Configuration, snap: Snapshot,
      f: DataFileEntry, convId: String, turnIdx: Long): Seq[InternalRow] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport}
    import scala.jdk.CollectionConverters._
    val target = snap.schema
    val physical = StructType(StructType.fromDDL(snap.schemaVersions(f.schemaV.toString))
      .map(_.copy(nullable = true)))
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val aligned = target.map { t =>
      physical.fieldNames.indexOf(t.name) match {
        case -1 => Literal(null, t.dataType)
        case i if physical(i).dataType == t.dataType => BoundReference(i, t.dataType, true)
        case i => Cast(BoundReference(i, physical(i).dataType, true), t.dataType, tz)
      }
    }
    val Seq(c, ti) = Schemas.keyCols.map(target.fieldIndex)
    val conv = UTF8String.fromString(convId)
    def isKey(r: InternalRow) = !r.isNullAt(c) && r.getUTF8String(c) == conv &&
      !r.isNullAt(ti) && r.get(ti, target(ti).dataType).asInstanceOf[Number].longValue == turnIdx
    readConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, physical.json)
    // the filter skips other conversations' row groups and records; isKey
    // is the exact match, turn_idx across its widened types included
    val filter = FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn("conv_id"),
      org.apache.parquet.io.api.Binary.fromString(convId)))
    val r = openParquet(new Path(root, f.path), readConf, filter)
    try {
      val meta = r.getFooter.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val modes = new ParquetOptions(Map.empty[String, String], spark.sessionState.conf)
      val support = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(kv.get, modes.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(kv.get, modes.int96RebaseModeInRead))
      val context = support.init(new org.apache.parquet.hadoop.api.InitContext(readConf,
        kv.asScala.map { case (k, v) => k -> java.util.Collections.singleton(v) }.asJava,
        meta.getSchema))
      r.setRequestedSchema(context.getRequestedSchema)
      val rows = support.prepareForRead(readConf, kv, meta.getSchema, context)
      val io = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(context.getRequestedSchema, meta.getSchema, true)
      val out = Seq.newBuilder[InternalRow]
      var pages = r.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, rows, filter)
        var n = 0L
        while (n < pages.getRowCount) {
          val row = records.read()
          n += 1
          if (!records.shouldSkipCurrentRecord) {
            if (row == null) n = pages.getRowCount // the filter ended the row group
            else {
              val copied = row.copy()
              val a = InternalRow.fromSeq(aligned.map(_.eval(copied)))
              if (isKey(a)) out += a
            }
          }
        }
        pages = r.readNextFilteredRowGroup()
      }
      out.result()
    } finally r.close()
  }

  /**
   * Incremental consumption: every retained change state with
   * `lsn > lsnExclusive` (tombstones INCLUDED — a downstream MERGE needs
   * the deletes), pruned to the files whose footer lsn range overlaps
   * (files without stats are conservatively included).
   * This is the table acting as a CDC SOURCE for downstream sync: a
   * consumer remembers the max lsn it applied and polls with it. CoW
   * rewrites copy old rows into new files, but the row-level lsn filter
   * still excludes them — consumers see each change exactly once.
   */
  def readChangesSince(spark: SparkSession, lsnExclusive: Long): DataFrame = {
    val snap = snapshot()
    readAligned(spark, snap, snap.files.filter(_.maxLsn.forall(_ > lsnExclusive)), snap.schema)
      .filter(col("lsn") > lsnExclusive)
  }

  /** Highest change lsn this table has applied — the natural resume
    * watermark for an incremental consumer syncing FROM this table (or for
    * deciding that a sync INTO this table has nothing to do). Metadata-only
    * when every manifest entry carries footer stats; falls back to a scan
    * for stat-less files. -1 on an empty table. */
  def maxAppliedLsn(spark: SparkSession): Long = {
    val snap = snapshot()
    if (snap.files.isEmpty) -1L
    else if (snap.files.forall(_.maxLsn.nonEmpty)) snap.files.flatMap(_.maxLsn).max
    else {
      val r = readAligned(spark, snap, snap.files, snap.schema)
        .agg(max(col("lsn"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
  }

  // ---- maintenance ----------------------------------------------------------

  /**
   * Retain the most recent `keepLast` snapshots (always including the
   * current one); delete older snapshot manifests and any data file no
   * retained snapshot references — the time-travel-horizon GC every
   * snapshot table needs (Iceberg's expire_snapshots analogue). Manifests
   * go in ascending order, which [[tryCommit]]'s post-publish check relies
   * on. Also deletes the manifest asides a crashed writer left: any whose
   * target version is at or below the newest listed one (it was published,
   * or its claim can only lose). Returns (snapshotsDeleted, dataFilesDeleted).
   */
  def expireSnapshots(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val versions = manifests
    versions.lastOption.foreach { case (newest, _) =>
      Option(raw.globStatus(new Path(metaDir, ".snap-*.tmp"))).getOrElse(Array())
        .filter(_.getPath.getName.drop(6).takeWhile(_.isDigit).toLongOption.exists(_ <= newest))
        .foreach(st => raw.delete(st.getPath, false))
    }
    val (expire, retain) = versions.splitAt(math.max(0, versions.size - keepLast))
    if (expire.isEmpty) return (0, 0)
    val referenced = retain.flatMap(_._2.files.map(_.path)).toSet
    val doomed = expire.flatMap(_._2.files.map(_.path)).toSet -- referenced
    def dirOf(rel: String) = rel.split("/").take(2).mkString("/")
    // a commit dir no retained snapshot reaches is removed WHOLE (it also
    // holds untracked writer artifacts — _SUCCESS, checksums — that would
    // otherwise accrete one dir per expired epoch forever); doomed files
    // inside still-referenced dirs (CoW keeps carrying old commits' files
    // forward) are deleted individually
    val retainedDirs = referenced.map(dirOf)
    val (inDeadDirs, inLiveDirs) = doomed.partition(f => !retainedDirs(dirOf(f)))
    inLiveDirs.foreach(rel => fs.delete(new Path(root, rel), false))
    inDeadDirs.map(dirOf).foreach(d => fs.delete(new Path(root, d), true))
    expire.foreach { case (v, _) => fs.delete(snapPath(v), false) }
    (expire.size, doomed.size)
  }

  /**
   * Merge-on-read upsert: write the batch's own LWW winners as DELTA files
   * (bucketed like the base layout) WITHOUT reading or rewriting any stored
   * data — commit IO is O(batch), independent of table size or touched
   * fraction. The per-key reduce against stored rows is deferred to read
   * time ([[readRaw]]) and to [[compact]].
   *
   * This is the steady-state CDC answer to copy-on-write's degenerate case:
   * when every epoch touches most buckets (uniform update traffic), CoW
   * rewrites the whole table per epoch; MoR amortizes that into periodic
   * compactions. Iceberg's MoR delete/overlay files are the same trade.
   * Exactly-once and schema evolution behave identically to [[merge]] (the
   * epoch rides the same atomic commit). `batchRowsHint` is the batch's
   * row count when the caller knows it, as for [[merge]]; it sizes the
   * reduce (see [[SnapTable.lwwTasks]]).
   */
  def mergeDelta(batch: DataFrame, epoch: Long, derived: Derived = Derived.none,
      batchRowsHint: Option[Long] = None): MergeResult =
    // batch-local LWW (dedupes duplicate delivery inside the epoch); stored
    // rows are NOT read — cross-epoch reduce happens at read/compaction
    epochWrite(batch, epoch, derived, batchRowsHint, "delta")(snap =>
      (Nil, (0 until snap.numBuckets).toSet))

  /** Number of delta files currently outstanding (compaction-policy input). */
  def deltaFileCount: Int = snapshot().files.count(_.kind == "delta")

  /**
   * Fold all merge-on-read deltas into base files: LWW-reduce the buckets
   * that have deltas and rewrite them as fresh base file groups (buckets
   * with no deltas are untouched). Read cost returns to one scan; the
   * operation is the CoW merge with an empty batch, scheduled by policy
   * instead of per-epoch. Returns the number of files rewritten.
   */
  def compact(spark: SparkSession): Long =
    retryingCommit {
      val snap = snapshot()
      requireBucketFn(snap)
      val dirty = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
      val files = snap.files.filter(f => dirty(f.bucket))
      if (dirty.isEmpty) Some(0L)
      else reduceAndWrite(spark, snap, snap, files, None, dirty).map(_ => files.size.toLong)
    }

  /**
   * Layout evolution: rewrite the table into `newBuckets` hash buckets —
   * the operation that keeps bucket ≈ task-sized as a table grows 100x
   * (Iceberg's partition-spec evolution analogue; unlike schema evolution
   * this IS a full rewrite, scheduled like a compaction). Outstanding
   * deltas fold in on the way through; history stays time-travelable
   * (older snapshots keep the old layout — bucket pruning always uses the
   * snapshot's own numBuckets). Note for incremental consumers: the
   * rewritten files carry the table's max lsn, so the next
   * [[readChangesSince]] poll scans them all once (its row-level lsn
   * filter still yields only true changes — a one-time IO spike, not a
   * correctness issue).
   */
  def rebucket(spark: SparkSession, newBuckets: Int): Unit = {
    require(newBuckets >= 1, "need at least one bucket")
    retryingCommit {
      val snap = snapshot()
      // stamps the CURRENT hash version: rebucket rewrites every row under
      // this build's bucketExpr, so it is the migration path for tables
      // laid out by an older hash
      reduceAndWrite(spark, snap, snap.copy(numBuckets = newBuckets,
        props = snap.props + (PropBucketFn -> BucketFnVersion.toString)),
        snap.files, None, (0 until newBuckets).toSet)
    }
  }

  /** Drop tombstones older than `lsnWatermark` by rewriting their buckets —
    * the compaction that bounds tombstone retention. Outstanding
    * merge-on-read deltas are compacted first so the count sees only
    * winner rows; the rewrite itself LWW-reduces like [[compact]], so a
    * delta a concurrent writer commits before a retried attempt folds in
    * instead of duplicating its key. Returns the number of tombstones
    * dropped. */
  def expireTombstones(spark: SparkSession, lsnWatermark: Long): Long = {
    compact(spark)
    val expired = col("op") === "D" && col("lsn") < lsnWatermark
    retryingCommit {
      val snap = snapshot()
      requireBucketFn(snap)
      // one aggregation yields both the count and the buckets to rewrite;
      // it reads only files that can hold an expired tombstone (footer
      // minLsn below the watermark; stat-less files conservatively)
      val candidates = snap.files.filter(_.minLsn.forall(_ < lsnWatermark))
      val perBucket = readAligned(spark, snap, candidates, snap.schema).filter(expired)
        .groupBy(bucketExpr(snap.numBuckets)).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = perBucket.values.sum
      // stamp the horizon IN the same commit that drops the tombstones, so
      // a resuming consumer can detect (and refuse) a watermark the expiry
      // has outrun — see [[tombstoneHorizonLsn]]
      val horizon = math.max(lsnWatermark,
        snap.props.get(PropTombstoneHorizon).map(_.toLong).getOrElse(-1L))
      if (n == 0) Some(0L)
      else reduceAndWrite(spark, snap,
        snap.copy(props = snap.props + (PropTombstoneHorizon -> horizon.toString)),
        snap.files.filter(f => perBucket.contains(f.bucket)), None, perBucket.keySet,
        keep = Some(!expired)).map(_ => n)
    }
  }

  /** The lsn watermark below which delete tombstones have been physically
    * expired (-1 = never expired, every tombstone retained). An incremental
    * consumer that last applied lsn `from` still sees every change it needs
    * iff `from >= horizon - 1`; below that, deletes it never applied are
    * GONE and the consumer must full-resync — [[graft.cdc.Sync]] enforces
    * this fail-fast instead of silently keeping deleted rows forever. */
  def tombstoneHorizonLsn: Long =
    snapshot().props.get(SnapTable.PropTombstoneHorizon).map(_.toLong).getOrElse(-1L)
}

object SnapTable {
  val BucketCol = "__bucket"
  val PropLastEpoch = "graft.lastEpoch"
  /** Manifest property recording which bucket-hash version laid out the
    * data files; see [[SnapTable.requireBucketFn]]. Version history:
    * 1 = raw-typed xxhash64 (int turn_idx hashed as int);
    * 2 = canonically-cast xxhash64 (integral keys hashed as long). */
  val PropBucketFn = "graft.bucketFn"
  val BucketFnVersion = 2
  /** Manifest property recording the lsn watermark below which delete
    * tombstones have been PHYSICALLY expired ([[SnapTable.expireTombstones]]).
    * Incremental consumers resuming from a watermark below this horizon can
    * never be delivered the expired deletes — sync paths must fail fast and
    * full-resync instead of silently keeping deleted rows. */
  val PropTombstoneHorizon = "graft.tombstoneHorizonLsn"
  /** Keys one task slot may hold in ObjectHashAggregate's unspillable map:
    * 262144 keys x ~1-2 KB transcript row ≈ 256-512 MB, inside a standard
    * 4-core/8GB executor slot. It is the one memory bound of the LWW reduce:
    * `GraftSession` sets it as the session's sort fallback threshold, and
    * [[lwwTasks]] sizes every write so no task holds more input rows. A task
    * past it falls back to the aggregate's spillable sort, which is bounded
    * but slower, so a write's speed assumes that session threshold. */
  val TaskKeyBudget = 262144

  /** Task count of an LWW reduce-and-write stage that writes the buckets
    * `bucketIds` from `inputRows` rows: the fewest tasks, at least one per
    * core and ⌈rows ÷ [[TaskKeyBudget]]⌉, whose fullest task holds at most
    * [[TaskKeyBudget]] rows, counting rows ÷ buckets rows a bucket placed
    * where the exchange places it ([[placement]], which is uneven). Never
    * more tasks than buckets written (the bucket is the file and
    * co-location unit, so an extra task would write nothing); past that cap
    * the aggregate's sort fallback bounds the memory, and the layout wants
    * a [[rebucket]]. An unknown input size counts as unbounded — one task
    * per bucket. */
  private[graft] def lwwTasks(bucketIds: Set[Int], inputRows: Option[Long], cores: Int): Int = {
    val buckets = bucketIds.size.toLong
    def fullest(tasks: Long) =
      bucketIds.toSeq.groupMapReduce(placement(_, tasks.toInt))(_ => 1)(_ + _).values.max
    val tasks = inputRows.fold(buckets) { rows =>
      val least = math.max(cores.toLong, (rows + TaskKeyBudget - 1) / TaskKeyBudget)
      (least until buckets).find(t => fullest(t) * rows <= TaskKeyBudget * buckets)
        .getOrElse(buckets)
    }
    math.max(1, tasks.toInt)
  }

  /** The task of `tasks` that the bucket exchange sends `bucket` to:
    * `HashPartitioning`'s `pmod(murmur3(bucket, 42), tasks)`. */
  private[graft] def placement(bucket: Int, tasks: Int): Int =
    math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(bucket, 42), tasks)

  /**
   * Per-key LWW winners of a frame that carries [[BucketCol]], reduced in
   * ONE shuffle that doubles as the file layout: the explicit repartition
   * on the bucket column is a grouping column of the aggregation, so
   * `HashPartitioning(__bucket)` satisfies the aggregation's
   * ClusteredDistribution (bucket is a pure function of the merge keys —
   * rows of one key can never land in two partitions) and Catalyst inserts
   * no second exchange between the reduce and the partitionBy write.
   * `PlanQualitySpec` pins the single-exchange plan.
   *
   * `buckets` are the buckets the frame writes and `inputRows` its row
   * count when known; [[lwwTasks]] turns them into the task count, so
   * a task reduces and writes several whole buckets (each still one file).
   */
  private[graft] def lwwWinners(df: DataFrame, target: StructType,
      buckets: Set[Int], inputRows: Option[Long] = None): DataFrame = {
    val tasks = lwwTasks(buckets, inputRows, df.sparkSession.sparkContext.defaultParallelism)
    graft.functions.LwwWinner.winners(df.repartition(tasks, col(BucketCol)),
      graft.model.Schemas.mergeKeys :+ BucketCol, target.fieldNames.toSeq)
  }

  /** Data directory for one commit ATTEMPT: version-prefixed for humans,
    * uniquely suffixed so two writers optimistically targeting the same
    * version never share a directory — the loser's write and its conflict
    * cleanup can only ever touch its own files. */
  private[table] def commitDir(version: Long): String =
    f"data/c$version%08d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Name of the aside [[SnapTable.publish]] writes for the file `name`:
    * a dot-file carrying the target name (so its version or epoch), unique
    * per attempt. */
  private[table] def asideName(name: String): String =
    s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp"

  /** Extend a merge target schema with derived columns not already present. */
  private[table] def withDerived(target: StructType, derived: Derived): StructType =
    derived.cols.foldLeft(target)((s, d) =>
      if (s.fieldNames.contains(d.name)) s
      else s.add(StructField(d.name, d.dataType, nullable = true)))

  /** Project derived columns onto winner rows: the shared prelude runs
    * once per row needing derivation, the generators read from it. Columns
    * already present (e.g. a compaction input) keep non-null stored values
    * via a gated coalesce; absent columns are computed outright. */
  private[graft] def applyDerived(winners: DataFrame, derived: Derived): DataFrame =
    if (derived.isEmpty) winners
    else {
      val present = derived.cols.filter(d => winners.columns.contains(d.name))
      val gate = present.map(d => col(d.name).isNull)
        .reduceOption(_ || _).getOrElse(lit(true))
      val withPrelude = derived.prelude.foldLeft(winners) { case (df, (n, c)) =>
        df.withColumn(n, when(gate, c))
      }
      val filled = derived.cols.foldLeft(withPrelude)((df, d) =>
        df.withColumn(d.name,
          if (winners.columns.contains(d.name))
            coalesce(col(d.name), d.expr.cast(d.dataType))
          else d.expr.cast(d.dataType)))
      if (derived.prelude.isEmpty) filled else filled.drop(derived.prelude.map(_._1): _*)
    }

  final case class FooterStats(rows: Long, minLsn: Option[Long], maxLsn: Option[Long])

  /** Parquet footer stats (metadata-only read): row count + lsn column
    * min/max from the row-group statistics. Runs on the driver for narrow
    * commits, on executors for wide ones. */
  private[table] def footerStats(path: String, conf: Configuration): FooterStats = {
    import scala.jdk.CollectionConverters._
    val r = openParquet(new Path(path), conf)
    try {
      val rows = r.getRecordCount
      val lsnStats = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == "lsn").map(_.getStatistics))
      val bounds =
        if (lsnStats.isEmpty || lsnStats.exists(s => s == null || !s.hasNonNullValue)) None
        else Some((
          lsnStats.map(_.genericGetMin.asInstanceOf[Number].longValue()).min,
          lsnStats.map(_.genericGetMax.asInstanceOf[Number].longValue()).max))
      FooterStats(rows, bounds.map(_._1), bounds.map(_._2))
    } finally r.close()
  }

  /** Open one parquet file with read options built from `conf`, the
    * table's Hadoop conf; `filter` prunes row groups. The one-argument
    * `ParquetFileReader.open` and `ParquetReader.builder` build theirs from
    * a `new Configuration()`, which parses Hadoop's XML defaults again for
    * each file and never sees the table's settings. */
  private def openParquet(path: Path, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).withRecordFilter(filter).build())

  /** Key columns for merge/bucketing (fixed for the transcript table). */
  object Schemas {
    val keyCols: Seq[String] = graft.model.Schemas.mergeKeys
  }

  /** The table at `root` over its own filesystem and the Hadoop conf that
    * filesystem is made with. */
  private def at(root: String, spark: SparkSession): SnapTable = {
    val conf = if (spark == null) new Configuration() else spark.sessionState.newHadoopConf()
    new SnapTable(root, new Path(root).getFileSystem(conf), conf)
  }

  def create(spark: SparkSession, root: String, schema: StructType,
      numBuckets: Int = 32): SnapTable = {
    val t = at(root, spark)
    t.fs.mkdirs(new Path(root, "meta"))
    require(t.history.isEmpty, s"table already exists at $root")
    val envelope = StructType(schema.fields ++
      Seq("ts" -> TimestampType, "lsn" -> LongType, "op" -> StringType)
        .filterNot { case (n, _) => schema.fieldNames.contains(n) }
        .map { case (n, t0) => StructField(n, t0) })
    t.commit(Snapshot(0L, -1L, numBuckets, 1,
      Map("1" -> envelope.toDDL), Seq.empty,
      Map(PropBucketFn -> BucketFnVersion.toString), 0L))
    t
  }

  /** Open the table at `root`. A torn manifest that an earlier build's kill
    * left at the head of the history is deleted here, so the current
    * version is always whole; one lower in the history is deleted where it
    * is read. */
  def load(spark: SparkSession, root: String): SnapTable = {
    val t = at(root, spark)
    t.history.reverseIterator.find(t.parsed(_).isDefined)
    t
  }

  /** Whether a table exists at `root`: any manifest is listed (retention
    * may have expired version 0), checked through the root's OWN Hadoop
    * filesystem — `java.io.File` probes only work on `file://` paths and
    * would silently report "absent" for any other scheme, sending callers
    * down the create path over live data. */
  def exists(spark: SparkSession, root: String): Boolean = load(spark, root).history.nonEmpty
}
