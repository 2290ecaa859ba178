package graft.job

import graft.cdc.{CdcPipeline, Dirty, DirtyStats, ErrorLimit, PipelineOptions}
import graft.functions.{DataXTransforms, TransformRegistry}
import graft.model.Schemas
import graft.sources.{TypedFileSink, TypedFileSource}
import graft.table.SnapTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Job-JSON entry point: the reference's sole UX is `datax.py job.json`
 * (reference: core/src/main/java/com/alibaba/datax/core/Engine.java:122-172;
 * shipped smoke job core/src/main/job/job.json:1-52). This module parses the
 * same job shape — `job.setting.{speed,errorLimit}` +
 * `job.content[0].{reader,transformer[],writer}` — and runs it through the
 * Spark engine: readers become DataFrame scans, the transformer chain becomes
 * [[DataXTransforms.applyChain]], writers become sinks (including the
 * snapshot-table MERGE upsert), and `errorLimit` gates both ends' dirty rows.
 *
 * Each plugin kind resolves by name in one place, which `run` and
 * `preCheck` share: readers in [[read]], transformers in [[toTransform]],
 * writers in [[writers]].
 */
object Job {

  // ---- config model --------------------------------------------------------

  final case class Speed(channel: Option[Int], byte: Option[Long], record: Option[Long])
  final case class Settings(speed: Speed, errorLimit: ErrorLimit)
  final case class TransformSpec(name: String, columnIndex: Option[Int],
      columnName: Option[String], paras: Seq[String],
      context: Map[String, String] = Map.empty, code: Option[String] = None)
  final case class PluginSpec(name: String, parameter: JValue)
  final case class Content(reader: PluginSpec, transformers: Seq[TransformSpec],
      writer: PluginSpec)
  /** `contents` mirrors the reference's job.content ARRAY — one
    * reader->transformers->writer lane each (reference runs the lanes'
    * tasks in one pooled schedule; here they run as sequential Spark jobs
    * whose stages each parallelize across the cluster). */
  final case class Spec(settings: Settings, contents: Seq[Content]) {
    def content: Content = contents.head
  }

  private implicit val fmts: Formats = DefaultFormats

  def parse(json: String): Spec = {
    val root = JsonMethods.parse(json) \ "job"
    val setting = root \ "setting"
    val speed = Speed(
      (setting \ "speed" \ "channel").extractOpt[Int],
      (setting \ "speed" \ "byte").extractOpt[Long],
      (setting \ "speed" \ "record").extractOpt[Long])
    val errorLimit = ErrorLimit(
      (setting \ "errorLimit" \ "record").extractOpt[Long],
      (setting \ "errorLimit" \ "percentage").extractOpt[Double])
    val contentJs = (root \ "content") match {
      case JArray(cs) if cs.nonEmpty => cs
      case JNothing | JNull => throw new IllegalArgumentException("job.content missing")
      case other => List(other) // single-object content tolerated
    }
    Spec(Settings(speed, errorLimit), contentJs.map(parseContent))
  }

  private def parseContent(content: JValue): Content = {
    val transformers = (content \ "transformer") match {
      case JArray(ts) => ts.map { t =>
        TransformSpec((t \ "name").extract[String],
          (t \ "parameter" \ "columnIndex").extractOpt[Int],
          (t \ "parameter" \ "columnName").extractOpt[String],
          (t \ "parameter" \ "paras") match {
            case JArray(ps) => ps.map {
              case JString(s) => s
              case JInt(i) => i.toString
              case JDouble(d) => d.toString
              case other2 => other2.toString
            }
            case _ => Nil
          },
          // tContext map (reference TransformerExecutionParas.java tContext)
          (t \ "parameter" \ "context") match {
            case JObject(fields) => fields.map {
              case (k, JString(s)) => k -> s
              case (k, v) => k -> v.values.toString
            }.toMap
            case _ => Map.empty[String, String]
          },
          (t \ "parameter" \ "code").extractOpt[String])
      }
      case _ => Nil
    }
    Content(
      PluginSpec((content \ "reader" \ "name").extract[String],
        content \ "reader" \ "parameter"),
      transformers,
      PluginSpec((content \ "writer" \ "name").extract[String],
        content \ "writer" \ "parameter"))
  }

  // ---- readers -------------------------------------------------------------

  private def columnSpecs(param: JValue): Seq[TypedFileSource.ColumnSpec] =
    (param \ "column") match {
      case JArray(cols) => cols.map { c =>
        TypedFileSource.ColumnSpec(
          (c \ "index").extractOpt[Int],
          (c \ "value") match {
            case JNothing | JNull => None
            case JString(s) => Some(s)
            case JInt(i) => Some(i.toString)
            case JBool(b) => Some(b.toString)
            case JDouble(d) => Some(d.toString)
            case v => Some(v.toString)
          },
          (c \ "type").extractOpt[String].getOrElse("string"),
          (c \ "format").extractOpt[String].orElse((c \ "dateFormat").extractOpt[String]),
          (c \ "name").extractOpt[String])
      }
      case _ => Nil
    }

  /** streamreader: `sliceRecordCount` rows per channel from `column`
    * value/random specs — deterministic (seeded hash) where the reference
    * uses Random. */
  private def readStream(spark: SparkSession, param: JValue, channels: Int): DataFrame = {
    val count = (param \ "sliceRecordCount").extractOpt[Long].getOrElse(10000L)
    val seed = (param \ "seed").extractOpt[Long].getOrElse(42L)
    val base = spark.range(count * channels).repartition(channels)
    val cols = (param \ "column") match {
      case JArray(cs) => cs.zipWithIndex.map { case (c, i) =>
        val typ = (c \ "type").extractOpt[String].getOrElse("string")
        val name = (c \ "name").extractOpt[String].getOrElse(s"col$i")
        (c \ "random").extractOpt[String] match {
          case Some(range) =>
            val Array(lo, hi) = range.split(",").map(_.trim.toLong)
            val span = math.max(1L, hi - lo + 1)
            val v = lit(lo) + pmod(xxhash64(col("id"), lit(seed + i)), lit(span))
            (typ.toLowerCase match {
              case "long" | "int" => v
              case "double" => v.cast("double")
              case "string" => v.cast("string")
              case "date" => timestamp_seconds(v)
              case "bool" => (v % 2 === 0)
              case other => throw new IllegalArgumentException(s"random type '$other'")
            }).as(name)
          case None =>
            val raw = (c \ "value") match {
              case JString(s) => s
              case JInt(x) => x.toString
              case JBool(b) => b.toString
              case JDouble(d) => d.toString
              case v => v.toString
            }
            (typ.toLowerCase match {
              case "string" => lit(raw)
              case "long" | "int" => lit(raw).cast("long")
              case "double" => lit(raw).cast("double")
              case "bool" => lit(raw).cast("boolean")
              case "bytes" => encode(lit(raw), "UTF-8")
              case "date" | "datetime" | "timestamp" =>
                DataXTransforms.castLadderTimestamp(lit(raw))
              case other => throw new IllegalArgumentException(s"column type '$other'")
            }).as(name)
        }
      }
      case _ => throw new IllegalArgumentException("streamreader needs column specs")
    }
    base.select(cols: _*)
  }

  private def pathList(param: JValue, who: String): Seq[String] =
    (param \ "path") match {
      case JString(s) => Seq(s)
      case JArray(ps) => ps.map(_.extract[String])
      case _ => throw new IllegalArgumentException(s"$who needs path")
    }

  private def csvConfig(param: JValue): TypedFileSource.CsvConfig =
    TypedFileSource.CsvConfig(
      fieldDelimiter = (param \ "fieldDelimiter").extractOpt[String].getOrElse(","),
      nullFormat = (param \ "nullFormat").extractOpt[String],
      skipHeader = (param \ "skipHeader").extractOpt[Boolean].getOrElse(false))

  private def read(spark: SparkSession, p: PluginSpec, channels: Int): DataFrame =
    p.name.toLowerCase match {
      case "streamreader" => readStream(spark, p.parameter, channels)
      case "txtfilereader" | "csvreader" =>
        val paths = pathList(p.parameter, "txtfilereader")
        val cfg = csvConfig(p.parameter)
        // explicit `compress` decodes regardless of file extension (reference:
        // UnstructuredStorageReaderUtil.java:120-213 decodes by setting, not name)
        (p.parameter \ "compress").extractOpt[String].map(_.toLowerCase) match {
          case Some(c @ ("gzip" | "bzip2" | "zip")) =>
            TypedFileSource.readCompressedCsv(spark, paths, columnSpecs(p.parameter), c, cfg)
          case Some("none") | None =>
            TypedFileSource.readCsv(spark, paths, columnSpecs(p.parameter), cfg)
          case Some(other) => throw new IllegalArgumentException(s"compress '$other'")
        }
      case "hdfsreader" | "filereader" =>
        // reference hdfsreader: path + fileType (TEXT/ORC/RC/SEQ/PARQUET/CSV)
        // + column projection (HdfsReader.java job model; DFSUtil dispatch).
        // fileType "auto" (the default) sniffs magic bytes like the
        // reference's checkHdfsFileType.
        val paths = pathList(p.parameter, "hdfsreader")
        val cfg = csvConfig(p.parameter)
        val cols = columnSpecs(p.parameter)
        (p.parameter \ "fileType").extractOpt[String].map(_.toLowerCase).getOrElse("auto") match {
          case "auto" => TypedFileSource.readAuto(spark, paths, cols, cfg)
          case "text" | "csv" => TypedFileSource.readCsv(spark, paths, cols, cfg)
          case "orc" => TypedFileSource.readOrc(spark, paths, cols)
          case "parquet" => TypedFileSource.readParquet(spark, paths, cols)
          case "seq" => TypedFileSource.readSeq(spark, paths, cols, cfg)
          case "rc" => TypedFileSource.readRc(spark, paths, cols, cfg)
          case other => throw new IllegalArgumentException(s"fileType '$other'")
        }
      case "parquetreader" =>
        spark.read.parquet((p.parameter \ "path").extract[String])
      case "orcreader" =>
        TypedFileSource.readOrc(spark, Seq((p.parameter \ "path").extract[String]),
          columnSpecs(p.parameter))
      case "dirtyreader" =>
        // replay a snapshot table's quarantined rows (reference: dirty
        // records retained by the plugin collector are fixed and re-fed);
        // the reason column is kept so a transformer/filter can route on it
        val tablePath = (p.parameter \ "path").extract[String]
        val table = SnapTable.load(spark, tablePath)
        val epoch = (p.parameter \ "epoch").extract[Long]
        CdcPipeline.readDirtySamples(spark, table, epoch).getOrElse(
          throw new IllegalArgumentException(
            s"no quarantined rows for epoch $epoch under $tablePath"))
      case "snaptablereader" =>
        // live table state, or its change feed beyond `sinceLsn` (the
        // table-as-CDC-source path used by Sync)
        val table = SnapTable.load(spark, (p.parameter \ "path").extract[String])
        (p.parameter \ "sinceLsn").extractOpt[Long] match {
          case Some(lsn) => table.readChangesSince(spark, lsn)
          case None => table.read(spark)
        }
      case "changelogreader" =>
        spark.read.schema(Schemas.envelope)
          .option("recursiveFileLookup", "true")
          .parquet((p.parameter \ "path").extract[String])
      case "drdsreader" =>
        // DRDS speaks the MySQL wire protocol (URL says jdbc:mysql), so the
        // dialect cannot resolve from the URL — the plugin name forces it
        // (and with it the mandatory `set transaction policy 4` session SQL)
        JdbcLane.read(spark, p.parameter, channels, dialectHint = Some("drds"))
      case "rdbmsreader" | "jdbcreader" | "mysqlreader" | "oraclereader" |
           "postgresqlreader" | "sqlserverreader" | "derbyreader" =>
        // the reference's CommonRdbmsReader family: dialect from the
        // jdbcUrl, splitPk predicate planning, querySql passthrough
        JdbcLane.read(spark, p.parameter, channels)
      case other => throw new IllegalArgumentException(s"unknown reader '$other'")
    }

  // ---- transformer chain ---------------------------------------------------

  /** Natives own the `dx_` names; any other name resolves through the
    * [[graft.functions.TransformRegistry]] (third-party transformers,
    * reference TransformerRegistry.java:23-177). */
  private def toTransform(df: DataFrame, t: TransformSpec): DataXTransforms.Transform = {
    lazy val colName = t.columnName.getOrElse(
      df.columns(t.columnIndex.getOrElse(
        throw new IllegalArgumentException(s"${t.name} needs columnIndex or columnName"))))
    def code = t.code.orElse(t.paras.headOption).getOrElse(
      throw new IllegalArgumentException(s"${t.name} needs code (or paras[0])"))
    t.name match {
      case "dx_substr" => DataXTransforms.Substr(colName, t.paras(0).toInt, t.paras(1).toInt)
      case "dx_pad" => DataXTransforms.Pad(colName, t.paras(0), t.paras(1).toInt, t.paras(2))
      case "dx_replace" =>
        DataXTransforms.Replace(colName, t.paras(0).toInt, t.paras(1).toInt, t.paras(2))
      case "dx_filter" => DataXTransforms.Filter(colName, t.paras(0), t.paras(1))
      // whole-row transforms need no column binding
      case "dx_script" | "dx_groovy" => DataXTransforms.Script(code)
      case "dx_map" => DataXTransforms.MapT(t.context, code)
      case name if TransformRegistry.resolve(name).isDefined =>
        DataXTransforms.Named(name, t.context)
      case other => throw new IllegalArgumentException(s"unknown transformer '$other'")
    }
  }

  // ---- writers -------------------------------------------------------------

  /** A writer plugin. `run` executes ONE sink action over a lane's frame
    * or chunk slice (chunk > 0 forces append) under the job's errorLimit,
    * and returns the rows the sink counts itself (None: the lane's
    * Observation count; a writer-side `df.count()` would re-execute the
    * pipeline) and the rows it rejected as dirty. `check` is its dry run. */
  private[graft] final case class Writer(
      run: (DataFrame, JValue, Int, ErrorLimit) => (Option[Long], Long),
      check: (SparkSession, JValue) => Seq[String] = (_, _) => Nil)

  private def missingPath(wp: JValue): Seq[String] =
    if ((wp \ "path").extractOpt[String].isEmpty) Seq("missing path") else Nil

  /** A file writer of (frame, path, writeMode, parameter); its check also
    * finds an existing nonConflict target through the target's own Hadoop
    * FS (java.io.File would pass any non-file:// scheme). */
  private def fileWriter(write: (DataFrame, String, String, JValue) => Unit): Writer =
    Writer((df, p, chunk, _) => {
      write(df, (p \ "path").extract[String], if (chunk > 0) "append"
        else (p \ "writeMode").extractOpt[String].getOrElse("append"), p)
      (None, 0L)
    }, (spark, wp) => missingPath(wp) ++ (wp \ "path").extractOpt[String].filter { path =>
      val hp = new org.apache.hadoop.fs.Path(path)
      (wp \ "writeMode").extractOpt[String].contains("nonConflict") &&
        hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
    }.map(path => s"nonConflict target $path already exists"))

  /** A JDBC writer: batched write with row-by-row dirty replay,
    * insert/replace/update templates and pre/postSql, or the staged load. */
  private def jdbcWriter(dialectHint: Option[String] = None,
      defaultWriteMode: String = "insert"): Writer =
    Writer((df, p, _, _) => {
      val (written, dirty) = JdbcLane.write(df, p, dialectHint, defaultWriteMode)
      (Some(written), dirty)
    }, (_, wp) => JdbcLane.preCheckWrite(wp))

  /** Every writer name, aliases included. */
  private[graft] val writers: Map[String, Writer] = {
    val csv = fileWriter { (df, path, mode, p) =>
      TypedFileSink.writeCsv(df, path, TypedFileSink.WriteConfig(
        fieldDelimiter = (p \ "fieldDelimiter").extractOpt[String].getOrElse(","),
        writeMode = mode))
    }
    val parquetModes = Map("append" -> "append", "nonConflict" -> "errorifexists",
      "truncate" -> "overwrite")
    // the reference's CommonRdbmsWriter family
    val rdbms = jdbcWriter()
    Map(
      "streamwriter" -> Writer((df, p, _, _) => {
        // the full pass (the lane's terminal action) must run BEFORE the
        // bounded show: a LIMIT-ed query would resolve the lane's
        // observations with partial counts
        df.foreach(_ => ())
        if ((p \ "print").extractOpt[Boolean].getOrElse(false)) df.show(20, truncate = 40)
        (None, 0L)
      }),
      "txtfilewriter" -> csv,
      "csvwriter" -> csv,
      "parquetwriter" -> fileWriter { (df, path, mode, _) =>
        df.write.mode(parquetModes.getOrElse(mode, throw new IllegalArgumentException(
          s"writeMode '$mode' (expected append|nonConflict|truncate)"))).parquet(path)
      },
      "orcwriter" -> fileWriter { (df, path, mode, _) =>
        TypedFileSink.writeOrc(df, path, TypedFileSink.WriteConfig(writeMode = mode))
      },
      "snaptablewriter" -> Writer((df, p, _, limit) => {
        val path = (p \ "path").extract[String]
        val spark = df.sparkSession
        val table =
          if (SnapTable.exists(spark, path)) SnapTable.load(spark, path)
          else SnapTable.create(spark, path, Schemas.payloadV2,
            (p \ "buckets").extractOpt[Int].getOrElse(32))
        // each chunk commits the table's next epoch; a chunk over the
        // job's errorLimit fails before its commit
        val rec = CdcPipeline.applyBatch(table, df, table.committedEpoch + 1,
          PipelineOptions(errorLimit = limit))
        (Some(rec.rowsApplied), rec.rowsDirty)
      }, (_, wp) => missingPath(wp)),
      // DRDS speaks the MySQL wire protocol, so the plugin name forces its
      // dialect (and its mandatory session SQL)
      "drdswriter" -> jdbcWriter(dialectHint = Some("drds")),
      // the reference defaults the ADS lane to staged "load" mode when
      // writeMode is unset (AdsWriter.java:72-77)
      "adswriter" -> jdbcWriter(defaultWriteMode = "load")) ++
      Seq("rdbmswriter", "jdbcwriter", "mysqlwriter", "oraclewriter",
        "postgresqlwriter", "sqlserverwriter", "derbywriter").map(_ -> rdbms)
  }

  private def writer(p: PluginSpec): Writer = writers.getOrElse(p.name.toLowerCase,
    throw new IllegalArgumentException(s"unknown writer '${p.name.toLowerCase}'"))

  // ---- speed caps (batch lanes) --------------------------------------------

  /** Per-partition ordinal from monotonically_increasing_id's layout
    * (partitionId << 33 | ordinal) — stable across re-scans of a
    * deterministic source, no shuffle, no window. */
  private def partitionOrdinal: org.apache.spark.sql.Column =
    monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))

  /** Resolve `job.setting.speed.record/byte` to a record cap. The byte cap
    * converts through a sampled average row width (a bounded `limit` probe,
    * not a full scan) — batch lanes slice statically, the streaming path
    * has the exact byte budget (maxBytesPerTrigger). `probe` must be an
    * UNOBSERVED plan: a LIMIT action over the lane's Observation node would
    * resolve it with a partial count. */
  private def recordCap(speed: Speed, probe: => DataFrame): Option[Long] =
    speed.record.orElse(speed.byte.map { b =>
      val df = probe
      val row = df.limit(256)
        .select(avg(length(to_json(struct(df.columns.toIndexedSeq.map(col): _*)))).as("w"))
        .head()
      val rowBytes = if (row.isNullAt(0)) 64.0 else math.max(1.0, row.getDouble(0))
      math.max(1L, (b / rowBytes).toLong)
    })

  /**
   * Slice a lane into chunks of at most ~`cap` rows (reference throttles
   * bps/tps per channel on the fly, core/.../transport/channel/
   * Channel.java:176-239; a Spark batch lane instead commits bounded
   * chunks — for the snapshot-table writer each chunk is its own epoch).
   * Each chunk re-scans the source: bounded commit size traded for
   * re-read, the same trade the reference makes when a throttled channel
   * stalls its reader. Returns the slice frames (1 frame when no slicing
   * is needed).
   */
  private def chunked(df: DataFrame, cap: Long): Seq[DataFrame] = {
    // one counting pass -> cumulative per-partition offsets, so the global
    // row index (offset(pid) + ordinal) is contiguous and slicing yields
    // EXACTLY ceil(rows/cap) chunks of at most cap rows even when source
    // partitions are unbalanced
    val counts = df.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    if (total <= cap) return Seq(df)
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = acc; acc += n; (p, o) }
    val offsetOf = map(offsets.toIndexedSeq.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    val chunkIdx = floor((element_at(offsetOf, spark_partition_id()) + partitionOrdinal)
      / cap).cast("int")
    val tagged = df.withColumn("__chunk", chunkIdx)
    val n = ((total + cap - 1) / cap).toInt
    (0 until n).map(i => tagged.filter(col("__chunk") === i).drop("__chunk"))
  }

  // ---- preCheck / secrets --------------------------------------------------

  /** Keys whose values are masked before any config is logged or echoed
    * (reference: core/.../util/SecretUtil.java:35-48 keeps passwords out of
    * plaintext; the Spark rebuild masks rather than decrypts — no secret
    * material belongs in job JSON in the first place). */
  private val SecretKeys = Set("password", "accessKey", "accessId", "secret", "token")

  /** Recursively mask secret-valued fields for display/logging. */
  def maskSecrets(v: JValue): JValue = v match {
    case JObject(fields) => JObject(fields.map {
      case (k, _) if SecretKeys.exists(s => k.toLowerCase.contains(s.toLowerCase)) =>
        (k, JString("******"))
      case (k, child) => (k, maskSecrets(child))
    })
    case JArray(items) => JArray(items.map(maskSecrets))
    case other => other
  }

  /**
   * Dry-run preCheck (reference: `job.setting.dryRun` short-circuit,
   * JobContainer.java:103-106, 184-213, and PreCheckTask connectivity /
   * splitPk validation): validate the job WITHOUT moving data — config
   * parses, reader source exists and is readable (schema resolves), column
   * indexes are in range, transformer chain binds, writer target is legal
   * for its writeMode. Returns the list of failures (empty = job would
   * start).
   */
  def preCheck(spark: SparkSession, json: String): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val spec = try parse(json) catch {
      case e: Throwable => return Seq(s"config: ${e.getMessage}")
    }
    for ((content, ci) <- spec.contents.zipWithIndex) {
      val tag = if (spec.contents.size == 1) "" else s"content[$ci] "
      val frame: Option[DataFrame] =
        try Some(read(spark, content.reader, spec.settings.speed.channel.getOrElse(1)))
        catch { case e: Throwable => problems += s"${tag}reader: ${e.getMessage}"; None }
      frame.foreach { df =>
        try df.schema catch {
          case e: Throwable => problems += s"${tag}reader schema: ${e.getMessage}"
        }
        content.transformers.foreach { t =>
          try toTransform(df, t)
          catch { case e: Throwable => problems += s"${tag}transformer ${t.name}: ${e.getMessage}" }
        }
      }
      try writer(content.writer).check(spark, content.writer.parameter)
        .foreach(p => problems += s"${tag}writer: $p")
      catch { case e: Throwable => problems += s"${tag}writer: ${e.getMessage}" }
    }
    problems.toSeq
  }

  // ---- lifecycle (reference job state machine + hooks) ---------------------

  /** Reference: core/.../dataxservice/face/domain/enums/State.java (the
    * subset meaningful for a Spark batch job) + HookInvoker post-job SPI
    * (core/.../container/util/HookInvoker.java). */
  sealed trait State
  case object Submitting extends State
  case object Running extends State
  case object Succeeded extends State
  case object Failed extends State

  final case class Report(states: Seq[State], rowsRead: Long, rowsWritten: Long,
      rowsDirty: Long, elapsedMs: Long, error: Option[String])

  /**
   * Run a job spec end-to-end: read -> dirty gate (requiredColumns +
   * errorLimit) -> transformer chain -> channel repartition -> write ->
   * errorLimit over both ends' dirty rows, with the reference's state
   * transitions and post-job hooks.
   *
   * Row accounting is SINGLE-PASS: `rowsRead`/`rowsWritten` come from
   * `Observation` (CollectMetrics) nodes planted in the lane's plan and
   * resolved by the sink's own action — no separate `count()` jobs
   * re-executing the read->transform pipeline. A lane without a dirty gate
   * or speed cap therefore scans its source exactly once (JobSpec pins
   * this by counting SQL executions).
   */
  def run(spark: SparkSession, json: String,
      hooks: Seq[Report => Unit] = Nil): Report = {
    val t0 = System.nanoTime()
    val states = scala.collection.mutable.ArrayBuffer[State](Submitting)
    def finish(r: Report): Report = { hooks.foreach(_(r)); r }
    try {
      val spec = parse(json)
      states += Running
      val channels = spec.settings.speed.channel.getOrElse(1)
      val limit = spec.settings.errorLimit
      var (rowsRead, rowsWritten, rowsDirty) = (0L, 0L, 0L)
      for ((content, ci) <- spec.contents.zipWithIndex) {
        val sink = writer(content.writer)
        val readObs = org.apache.spark.sql.Observation(s"graft-read-$ci")
        val raw = read(spark, content.reader, channels)
          .observe(readObs, count(lit(1)).as("rows"))
        // dirty gate: requiredColumns null checks, reference errorLimit
        val required = (content.reader.parameter \ "requiredColumns") match {
          case JArray(cs) => cs.map(_.extract[String])
          case _ => Nil
        }
        val (clean, readerDirty) =
          if (required.isEmpty) (raw, DirtyStats(0L, 0L, Map.empty))
          else {
            val split = Dirty.split(raw, required.map(c =>
              Dirty.Rule(s"${c}_null", col(c).isNotNull)))
            (split.clean, split.stats().enforce(limit))
          }
        val transformed = DataXTransforms.applyChain(clean,
          content.transformers.map(toTransform(clean, _)))
        val sized = if (channels > 1) transformed.repartition(channels) else transformed
        // byte->record width sampling probes a FRESH read plan (no
        // Observation node) so the bounded probe can't leak a partial count
        // into the lane's accounting
        val slices = recordCap(spec.settings.speed,
          read(spark, content.reader, channels)) match {
          case Some(cap) => chunked(sized, cap)
          case None => Seq(sized)
        }
        var writerDirty = 0L
        for ((slice, chunk) <- slices.zipWithIndex) {
          val writeObs = org.apache.spark.sql.Observation(s"graft-write-$ci-$chunk")
          val observed = slice.observe(writeObs, count(lit(1)).as("rows"))
          val (rows, dirty) = sink.run(observed, content.writer.parameter, chunk, limit)
          rowsWritten += rows.getOrElse(writeObs.get("rows").asInstanceOf[Long])
          writerDirty += dirty
        }
        val laneRead = readObs.get("rows").asInstanceOf[Long]
        val laneDirty = readerDirty.dirty + writerDirty
        rowsRead += laneRead
        rowsDirty += laneDirty
        // the same gate over the rows either end rejected
        DirtyStats(laneRead - laneDirty, laneDirty,
          readerDirty.byReason + ("writer" -> writerDirty)).enforce(limit)
      }
      states += Succeeded
      finish(Report(states.toSeq, rowsRead, rowsWritten, rowsDirty,
        (System.nanoTime() - t0) / 1000000L, None))
    } catch {
      case e: Throwable =>
        states += Failed
        finish(Report(states.toSeq, -1, -1, -1,
          (System.nanoTime() - t0) / 1000000L, Some(e.getMessage)))
    }
  }
}
