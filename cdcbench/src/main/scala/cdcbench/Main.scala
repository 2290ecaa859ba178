package cdcbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * The benchmark's one entry point:
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *      --data <dir> [--cores <n>] [--leg]
 * }}}
 *
 * Prints every metric by name and unit as `# ` lines, then one JSON object as
 * the last line of stdout: the end-to-end metrics with `--trace 0`, the
 * per-layer metrics with `--trace 1`. Exits 1 when a correctness gate fails.
 * `--leg` runs one set-up repetition and prints only `events_per_s`: the
 * single-core scaling leg of the traced bulk-replay run.
 */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 15,
      trace: Boolean = false, work: String = "", data: String = "", cores: Int = 0,
      leg: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--data" :: v :: rest => parse(rest, a.copy(data = v))
    case "--cores" :: v :: rest => parse(rest, a.copy(cores = v.toInt))
    case "--leg" :: rest => parse(rest, a.copy(leg = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  val workloads: Seq[String] = Seq("bulk-replay", "tail-cow", "tail-mor-read", "operator-queries")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(workloads.contains(a.workload),
      s"--workload must be one of ${workloads.mkString(", ")}")
    require(a.work.nonEmpty, "--work <dir> is required")
    val cores = if (a.cores > 0) a.cores else Runtime.getRuntime.availableProcessors()
    val localRoot = Paths.get(a.work).toAbsolutePath.toString
    Files.createDirectories(Paths.get(localRoot))
    Trace.on = a.trace
    val root = (if (a.trace) "benchfs:" else "file:") + localRoot

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores)
      .config("spark.hadoop.fs.benchfs.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.benchfs.impl.disable.cache", "true")
      .config("spark.local.dir", s"$localRoot/spark-local")
      .config("spark.sql.warehouse.dir", s"$localRoot/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val outcome = new Stats.Outcome
    val metrics =
      if (a.workload == "operator-queries")
        OperatorQueries.metrics(OperatorQueries.run(spark, a.data, a.seed, a.seconds, outcome),
          sessionS)
      else {
        val w = new Workloads(spark, a.seed, a.seconds, root, localRoot, outcome,
          setupReps = if (a.leg) 1 else 3)
        val res = a.workload match {
          case "bulk-replay" => w.bulkReplay(sessionS)
          case "tail-cow" => w.tail(mor = false, sessionS)
          case "tail-mor-read" => w.tail(mor = true, sessionS)
        }
        // let the listener bus drain, so that every job's end and task metrics
        // are recorded before they are read
        if (a.trace) Thread.sleep(500)
        val report = new Report(cores, res)
        val e2e = report.endToEnd
        if (a.leg) e2e.filter(_.name == "events_per_s")
        else {
          val traced = if (a.trace) "traced run: " else ""
          (report.printedOnly ++ (if (a.trace) e2e else Nil))
            .foreach(m => println(s"# $traced${m.line}"))
          if (a.trace) report.reportOnly.foreach(m => println(s"# ${m.line}"))
          if (a.trace) report.perLayer(listener) else e2e
        }
      }
    if (a.trace && !a.leg) {
      writeSpans(s"$localRoot/spans.json", listener)
      println(s"# spans: $localRoot/spans.json")
    }
    metrics.foreach(m => println(s"# ${m.line}"))
    println(f"# failed_op_share = ${outcome.failedShare}%.6f ratio " +
      s"(failed ${outcome.failed} of ${outcome.attempted} ops)")
    outcome.messages.take(20).foreach(m => println(s"# FAILED: $m"))
    println(Report.json(outcome, metrics))
    System.out.flush()
    spark.stop()
    if (!outcome.correct) sys.exit(1)
  }

  /** Spans as JSON lines: benchmark spans, then Spark jobs as child spans. */
  private def writeSpans(path: String, listener: JobListener): Unit = {
    val sb = new StringBuilder
    Trace.all.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""epoch":${s.epoch},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    listener.jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      val site = j.callSite.replace("\\", "\\\\").replace("\"", "\\\"")
      sb ++= s"""{"job":${j.id},"parent":${j.span},"name":"job:${j.module}",""" +
        s""""call_site":"$site","start_ns":${j.start},"end_ns":${j.end},""" +
        s""""cpu_ns":${j.cpuNs.sum},"records_written":${j.recordsWritten.sum}}""" + "\n"
    }
    Files.writeString(Paths.get(path), sb.toString)
  }
}

/** A metric as printed: name, value, unit, and its sample count if any. */
final case class Metric(name: String, value: Double, unit: String, n: Option[Int] = None,
    note: String = "") {
  def line: String = {
    val ns = n.map(k => s" (n=$k)").getOrElse("")
    val nt = if (note.isEmpty) "" else s" — $note"
    f"$name = $value%.6g $unit$ns$nt"
  }
}

/** Turns a run's records into end-to-end and per-layer metrics. */
final class Report(cores: Int, r: RunResult) {
  private val epochs = r.epochs
  private val events = r.events.toDouble
  private val lookups = epochs.flatMap(_.lookupMs)

  /** The end-to-end metrics of BENCHMARK.json. */
  def endToEnd: Seq[Metric] = Seq(
    Metric("events_per_s", events / r.timedWallS, "events/s", Some(epochs.size)),
    Metric("cpu_s", r.cpuS, "s", note = "process CPU in the timed phase"),
    Metric("apply_cpu_s", epochs.map(_.cpuMs).sum / 1e3, "s", Some(epochs.size),
      "process CPU from each epoch's apply to its commit, summed"),
    Metric("write_bytes_per_event", r.writeBytes / events, "B/event"),
    Metric("table_bytes_per_row", r.tableBytes.toDouble / math.max(1L, r.liveRows), "B/row"),
    Metric("setup_s", r.setupS, "s", Some(r.setupRepS.size),
      f"session ${r.sessionS}%.2f s + median set-up repetition + warm-up ${r.warmS}%.2f s"))

  /** Numbers printed as `# ` lines only: each is a median of a few samples
    * per run, too few to gate on (see README). */
  def printedOnly: Seq[Metric] = {
    val lk = Stats.summarize(lookups)
    Seq(
      Metric("epoch_ms_p50", Stats.median(epochs.map(_.epochMs)), "ms", Some(epochs.size)),
      Metric("epoch_cpu_ms_p50", Stats.median(epochs.map(_.cpuMs)), "ms", Some(epochs.size),
        "process CPU from an epoch's apply to its commit"),
      Metric("lookup_ms_p50", lk.p50, "ms", Some(lk.n),
        lk.tail.map { case (p, v) => f"p${p * 100}%.0f=$v%.3f ms" }
          .getOrElse("no higher percentile has 10 samples beyond it")),
      Metric("poll_ms_p50", Stats.median(epochs.map(_.pollMs)), "ms", Some(epochs.size)))
  }

  private def spanSet(f: EpochRec => Seq[Long]): Set[Long] = epochs.flatMap(f).toSet
  private lazy val applySpans = spanSet(e => Seq(e.applySpanId))
  private lazy val timedSpans: Set[Long] = {
    // every span under the timed phase
    val all = Trace.all
    val kids = all.groupBy(_.parent)
    def under(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => under(s.id))
    under(r.timedSpanId).toSet
  }
  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def fsBytes(span: Long, cls: String => Boolean): Double =
    Trace.fsSum(Set(span), cls)(_.bytesRead).toDouble
  private def isTable(c: String): Boolean = c.startsWith("table") || c.startsWith("lineage") ||
    c.startsWith("dirty")

  /** The per-layer metrics of BENCHMARK.json, measured on every workload. */
  def perLayer(l: JobListener): Seq[Metric] = {
    val k = epochs.size.toDouble
    val applyJobs = l.inSpans(applySpans)
    val timedJobs = l.inSpans(timedSpans)
    val tableJobs = applyJobs.filter(_.module == "table")
    val rowsWritten = tableJobs.map(_.recordsWritten.sum).sum.toDouble
    val applySpanRecs = Trace.all.filter(s => applySpans(s.id))
    val driverMs = applySpanRecs.map { s =>
      val js = applyJobs.filter(_.span == s.id).map(j => (j.start, math.max(j.start, j.end)))
      Stats.selfTime(s.start, s.end, js) / 1e6
    }
    def jobMs(js: Seq[JobRec]) = js.map(j => (j.end - j.start) / 1e6).sum
    val runMs = timedJobs.map(_.runMs.sum).sum.toDouble
    val lookupSpans = epochs.flatMap(_.lookupSpanIds)
    val lookupJobs = l.inSpans(lookupSpans.toSet)
    val lins = r.lineage
    val progressMs = r.progress.filter(_.numInputRows > 0)
    Seq(
      Metric("cdc.apply_ms_p50",
        if (progressMs.nonEmpty) p50(progressMs.takeRight(epochs.size)
          .map(_.durationMs.get("addBatch").doubleValue))
        else p50(applySpanRecs.map(s => (s.end - s.start) / 1e6)), "ms", Some(epochs.size)),
      Metric("cdc.spark_jobs_per_epoch", applyJobs.size / k, "jobs/epoch"),
      Metric("cdc.accounting_ms", jobMs(applyJobs.filter(_.module == "cdc")) / k, "ms/epoch"),
      Metric("cdc.changelog_bytes_read_per_event",
        Trace.fsSum(applySpans, _ == "changelog")(_.bytesRead) / events, "B/event"),
      Metric("cdc.sideband_fs_ms",
        Trace.fsSum(applySpans, c => c.startsWith("lineage") || c.startsWith("dirty"))(_.nanos)
          / 1e6 / k, "ms/epoch"),
      Metric("table.write_ms", jobMs(tableJobs) / k, "ms/epoch"),
      Metric("table.driver_ms_p50", p50(driverMs), "ms", Some(driverMs.size)),
      Metric("table.rows_written_per_event", rowsWritten / events, "rows/event"),
      Metric("table.useful_write_ratio",
        epochs.map(_.keysChanged).sum / math.max(1.0, rowsWritten), "ratio"),
      Metric("table.buckets_rewritten_p50", p50(lins.map(_.bucketsRewritten.toDouble)),
        "buckets", Some(lins.size)),
      Metric("table.bytes_read_per_event",
        Trace.fsSum(applySpans, isTable)(_.bytesRead) / events, "B/event"),
      Metric("table.fs_mutations_per_epoch",
        Trace.fsSum(applySpans, isTable)(_.mutations) / k, "calls/epoch"),
      Metric("table.compactions", epochs.count(_.compacted).toDouble, "count"),
      Metric("table.delta_files_p50",
        p50(epochs.flatMap(e => e.lookupMs.map(_ => e.deltaFiles.toDouble))), "files",
        Some(lookups.size)),
      Metric("table.lookup_bytes_read_p50",
        p50(lookupSpans.map(s => fsBytes(s, isTable))), "B", Some(lookupSpans.size)),
      Metric("table.lookup_rows_scanned_per_result",
        lookupJobs.map(_.recordsRead.sum).sum.toDouble /
          math.max(1L, epochs.map(_.lookupResults).sum), "rows/result"),
      Metric("table.poll_bytes_read_p50", p50(epochs.map(e => fsBytes(e.pollSpanId, isTable))),
        "B", Some(epochs.size)),
      Metric("functions.lww_agg_ms", applyJobs.map(_.lwwAggMs.sum).sum / k, "ms/epoch"),
      Metric("functions.lww_sort_fallback_tasks",
        applyJobs.map(_.lwwFallbacks.sum).sum.toDouble, "tasks"),
      Metric("functions.lww_spill_bytes", applyJobs.map(_.lwwSpill.sum).sum.toDouble, "B"),
      Metric("spark.executor_cpu_s", timedJobs.map(_.cpuNs.sum).sum / 1e9, "s"),
      Metric("spark.gc_share", timedJobs.map(_.gcMs.sum).sum / math.max(1.0, runMs), "ratio"),
      Metric("spark.core_busy_share", runMs / (r.timedWallS * 1000 * cores), "ratio"),
      Metric("spark.shuffle_write_bytes_per_event",
        timedJobs.map(_.shuffleWrite.sum).sum / events, "B/event"),
      Metric("spark.spill_bytes", timedJobs.map(_.spill.sum).sum.toDouble, "B"),
      Metric("spark.task_failures", timedJobs.map(_.taskFailures.sum).sum.toDouble, "count"),
      Metric("jvm.jit_s", r.jitS, "s",
        note = "JIT compilation in the timed phase, summed over compiler threads"),
      Metric("streaming.fs_calls_per_trigger",
        if (r.progress.isEmpty) 0.0
        else (Trace.fsSum(applySpans, _ == "ckpt")(_.calls) +
          Trace.fsSum(applySpans, _ == "changelog")(_.calls) -
          Trace.fsSum(applySpans, _ == "changelog")(_.opens)) / math.max(1.0, k),
        "calls/trigger", note = "0 where no streaming query runs"),
      Metric("gen.changelog_s", p50(r.genS), "s", Some(r.genS.size)),
      Metric("trace.events_per_s", events / r.timedWallS, "events/s",
        note = "the traced run's own events_per_s; tracing overhead against an untraced run"),
      Metric("trace.epoch_ms_p50", Stats.median(epochs.map(_.epochMs)), "ms", Some(epochs.size)),
      Metric("trace.epoch_cpu_ms_p50", Stats.median(epochs.map(_.cpuMs)), "ms",
        Some(epochs.size)))
  }

  /** Per-layer numbers that exist on some workloads only, printed as `# `
    * lines of the traced run and not in its JSON. */
  def reportOnly: Seq[Metric] = {
    val progress = r.progress.filter(_.numInputRows > 0).takeRight(epochs.size)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val streaming =
      if (progress.isEmpty) Nil
      else Seq(
        Metric("streaming.trigger_ms_p50", p50(progress.map(dur(_, "triggerExecution"))), "ms",
          Some(progress.size)),
        Metric("streaming.overhead_ms_p50",
          p50(progress.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))), "ms",
          Some(progress.size)))
    val compaction = {
      val (c, rest) = epochs.partition(_.compacted)
      if (c.isEmpty) Nil
      else Seq(Metric("table.compact_ms",
        c.map(_.epochMs).sum - c.size * p50(rest.map(_.epochMs)), "ms",
        Some(c.size), "compaction epochs' time beyond the median other epoch"))
    }
    val load =
      if (r.bulkLoadS.isEmpty) Nil
      else Seq(Metric("cdc.bulk_load_s", p50(r.bulkLoadS), "s", Some(r.bulkLoadS.size)))
    streaming ++ compaction ++ load
  }
}

object Report {
  def json(o: Stats.Outcome, ms: Seq[Metric]): String = {
    val body = ms.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "0" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {$body}}"""
  }
}
