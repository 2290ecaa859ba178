package cdcbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One span of the traced run: a public call the benchmark made, or a Spark
  * job that ran inside one. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, epoch: Long,
    start: Long, var end: Long = -1L)

/** Counters of one (span, path class) cell. */
final class FsCounter {
  val calls = new LongAdder
  val mutations = new LongAdder
  val nanos = new LongAdder
  val bytesRead = new LongAdder
  val opens = new LongAdder
}

/**
 * The traced run's recorder. Spans stay in memory and are written out when
 * the run ends. Off in measured runs: `Trace.on` is false, every hook is a
 * no-op, and the program runs on `file:` paths.
 */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** The innermost open benchmark span; FS calls made while it is open,
    * on any thread, are attributed to it. */
  @volatile var current: Span = Span(0, -1, "run", -1, System.nanoTime())

  def all: Seq[Span] = spans.asScala.toSeq

  /** The innermost of `spans` whose `[start, end)` holds `t`, or 0 (the run)
    * when none does. Spans of one client never overlap except by nesting,
    * so the innermost is the one that started last; a span not yet ended
    * holds every later `t`. */
  def spanAt(t: Long, spans: Iterable[Span] = this.spans.asScala): Long = {
    val holding = spans.filter(s => s.start <= t && (s.end < 0 || t < s.end))
    if (holding.isEmpty) 0L else holding.maxBy(_.start).id
  }

  def span[A](name: String, epoch: Long = -1L)(body: => A): A = {
    if (!on) return body
    val parent = current
    val s = Span(ids.incrementAndGet(), parent.id, name, epoch, System.nanoTime())
    spans.add(s)
    current = s
    try body finally { s.end = System.nanoTime(); current = parent }
  }

  // ---- filesystem counting ------------------------------------------------

  /** Path classes, longest prefix first: (name, absolute local path). A
    * class may have several prefixes. */
  @volatile private var classes: Seq[(String, String)] = Nil
  def registerPathClass(name: String, localPath: String): Unit = synchronized {
    val p = new java.io.File(localPath).getAbsolutePath
    classes = (classes.filterNot(_._2 == p) :+ (name -> p)).sortBy(-_._2.length)
  }
  private def classify(p: Path): String = {
    val s = p.toUri.getPath
    classes.collectFirst { case (n, pre) if s.startsWith(pre) => n }.getOrElse("other")
  }

  val fs = new ConcurrentHashMap[(Long, String), FsCounter]()
  def fsCounter(span: Long, cls: String): FsCounter =
    fs.computeIfAbsent((span, cls), _ => new FsCounter)

  private[cdcbench] def fsCall[A](p: Path, mutation: Boolean)(body: => A): A = {
    val c = fsCounter(current.id, classify(p))
    val t0 = System.nanoTime()
    try body finally {
      c.calls.increment()
      if (mutation) c.mutations.increment()
      c.nanos.add(System.nanoTime() - t0)
    }
  }
  private[cdcbench] def counterFor(p: Path): FsCounter = fsCounter(current.id, classify(p))

  /** Sum a field of the FS counters over spans and classes. */
  def fsSum(spanIds: Set[Long], cls: String => Boolean)(f: FsCounter => LongAdder): Long =
    fs.asScala.iterator.collect {
      case ((s, c), v) if spanIds(s) && cls(c) => f(v).sum()
    }.sum
}

/** Counts bytes read through a wrapped stream, with the same positioned and
  * sequential reads as the stream it wraps. */
final class CountingInputStream(in: FSDataInputStream, c: FsCounter) extends FSInputStream {
  override def read(): Int = {
    val t0 = System.nanoTime()
    val b = in.read()
    if (b >= 0) c.bytesRead.increment()
    c.nanos.add(System.nanoTime() - t0)
    b
  }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val t0 = System.nanoTime()
    val n = in.read(buf, off, len)
    if (n > 0) c.bytesRead.add(n)
    c.nanos.add(System.nanoTime() - t0)
    n
  }
  override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    val t0 = System.nanoTime()
    val n = in.read(pos, buf, off, len)
    if (n > 0) c.bytesRead.add(n)
    c.nanos.add(System.nanoTime() - t0)
    n
  }
  override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    val t0 = System.nanoTime()
    in.readFully(pos, buf, off, len)
    c.bytesRead.add(len)
    c.nanos.add(System.nanoTime() - t0)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def skip(n: Long): Long = in.skip(n)
  override def close(): Unit = in.close()
}

/**
 * The raw local filesystem under the bench-owned `benchfs:` scheme, counting
 * calls, mutations, time and bytes read per benchmark span and path class.
 * [[CountingFs]] puts the checksumming layer on top, so the traced run does
 * the same IO as `file:`, `.crc` files included.
 */
class CountingRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("benchfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = Trace.fsCall(f, mutation = false)(super.open(f, bufferSize))
    Trace.counterFor(f).opens.increment()
    new FSDataInputStream(new CountingInputStream(in, Trace.counterFor(f)))
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    Trace.fsCall(f, mutation = true)(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    Trace.fsCall(f, mutation = true)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    Trace.fsCall(f, mutation = true)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    Trace.fsCall(src, mutation = true)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    Trace.fsCall(p, mutation = true)(super.delete(p, recursive))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    Trace.fsCall(p, mutation = true)(super.mkdirs(p, permission))
  override def mkdirs(p: Path): Boolean =
    Trace.fsCall(p, mutation = true)(super.mkdirs(p))
  override def listStatus(p: Path): Array[FileStatus] =
    Trace.fsCall(p, mutation = false)(super.listStatus(p))
  override def getFileStatus(p: Path): FileStatus =
    Trace.fsCall(p, mutation = false)(super.getFileStatus(p))
}

class CountingFs extends org.apache.hadoop.fs.LocalFileSystem(new CountingRawFs) {
  override def getScheme: String = "benchfs"
}

/** One Spark job as the listener saw it. `start` and `end` are the times
  * Spark stamped on its events, on the spans' clock. */
final class JobRec(val id: Int, val start: Long, val module: String, val callSite: String) {
  @volatile var end: Long = -1L
  /** The benchmark span the job started in. Read once the run is over: the
    * listener bus handles events after the fact, so the span open when it
    * handles a job's start need not be the one the job started in. */
  def span: Long = Trace.spanAt(start)
  val runNs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val runMs = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val recordsWritten = new LongAdder
  val recordsRead = new LongAdder
  val taskFailures = new LongAdder
  val lwwAggMs = new LongAdder
  val lwwFallbacks = new LongAdder
  val lwwSpill = new LongAdder
}

/**
 * Listens to Spark's own job, task and SQL-plan events. Jobs are attributed
 * to the benchmark span that holds their start time and to a program module
 * by the first `graft.` frame of their call site. The LWW reduce's
 * `ObjectHashAggregate` nodes are found in the SQL plan events; their
 * accumulator updates are summed per job.
 */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** accumulator id -> metric name, for metrics of LWW aggregate nodes */
  private val lwwAccums = new ConcurrentHashMap[Long, String]()

  /** `System.nanoTime` at wall-clock millisecond 0, taken on a millisecond
    * tick so that event times (wall-clock ms) land on the spans' clock to
    * within half a millisecond. */
  private val epochNs: Long = {
    val m0 = System.currentTimeMillis()
    var m = m0
    while (m == m0) m = System.currentTimeMillis()
    System.nanoTime() - m * 1000000L
  }
  /** An event time on the spans' clock, at the middle of its millisecond. */
  private def eventNs(wallMs: Long): Long = epochNs + wallMs * 1000000L + 500000L

  /** SQL execution id -> its call site (the execution's long form). */
  private val execSite = new ConcurrentHashMap[Long, String]()
  /** SQL execution id -> module read off its plan (see [[JobListener.planModule]]). */
  private val execPlanModule = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = execId.flatMap(id => Option(execSite.get(id)))
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    val (siteModule, frame) = JobListener.attribute(site)
    // a streaming query pins every job it runs to the call site that started
    // the query; those jobs are attributed by their plan instead
    val module =
      if (frame.contains(JobListener.StreamStartFrame))
        execId.flatMap(id => Option(execPlanModule.get(id))).getOrElse(siteModule)
      else siteModule
    val rec = new JobRec(e.jobId, eventNs(e.time), module, frame)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = eventNs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    if (rec == null) return
    if (e.reason != org.apache.spark.Success) rec.taskFailures.increment()
    val m = e.taskMetrics
    if (m != null) {
      rec.runMs.add(m.executorRunTime)
      rec.cpuNs.add(m.executorCpuTime)
      rec.gcMs.add(m.jvmGCTime)
      rec.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      rec.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      rec.recordsWritten.add(m.outputMetrics.recordsWritten)
      rec.recordsRead.add(m.inputMetrics.recordsRead)
    }
    if (!lwwAccums.isEmpty && e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
      Option(lwwAccums.get(a.id)).foreach { name =>
        val v = a.update.map {
          case l: java.lang.Long => l.longValue
          case n: Number => n.longValue
          case other => scala.util.Try(other.toString.toLong).getOrElse(0L)
        }.getOrElse(0L)
        name match {
          case "time in aggregation build" => rec.lwwAggMs.add(v)
          case "number of sort fallback tasks" => rec.lwwFallbacks.add(v)
          case "spill size" => rec.lwwSpill.add(v)
          case _ => ()
        }
      }
    }
  }

  private def scanPlan(p: SparkPlanInfo): Unit = {
    if (p.nodeName.contains("ObjectHashAggregate") && p.simpleString.contains("lww_winner"))
      p.metrics.foreach(m => lwwAccums.put(m.accumulatorId, m.name))
    p.children.foreach(scanPlan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.details)
      execPlanModule.put(s.executionId, JobListener.planModule(s.sparkPlanInfo))
      scanPlan(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => scanPlan(u.sparkPlanInfo)
    case _ => ()
  }

  def inSpans(ids: Set[Long]): Seq[JobRec] = {
    val spans = Trace.all
    jobs.values().asScala.filter(j => ids(Trace.spanAt(j.start, spans))).toSeq
  }
}

object JobListener {
  val StreamStartFrame = "graft.cdc.CdcPipeline$.stream("

  /** "table" for a plan that runs the LWW reduce or writes table data files,
    * else "cdc" (batch accounting, dirty samples, the ledger manifest). */
  def planModule(p: SparkPlanInfo): String = {
    def nodes(q: SparkPlanInfo): Seq[SparkPlanInfo] = q +: q.children.flatMap(nodes)
    val all = nodes(p)
    val lww = all.exists(_.simpleString.contains("lww_winner"))
    val tableWrite = all.exists(n => n.nodeName.contains("InsertIntoHadoopFsRelationCommand") &&
      n.simpleString.contains("/data/c"))
    if (lww || tableWrite) "table" else "cdc"
  }

  /** (module, frame) of a call site: the package under `graft.` of its first
    * program frame, "graft" for top-level objects, or "bench" when only the
    * benchmark's own frames called Spark. */
  def attribute(callSite: String): (String, String) = {
    val frame = callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    val module = frame.map(_.split('.')(1)).map { m =>
      if (m.contains('$') || m.contains('(')) "graft" else m
    }.getOrElse("bench")
    (module, frame.getOrElse(callSite.linesIterator.take(1).mkString))
  }
}

/** Records the trigger breakdown of every streaming progress event. */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
