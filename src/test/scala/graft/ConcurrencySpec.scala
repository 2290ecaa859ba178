package graft

import graft.cdc.CdcPipeline
import graft.model.{ChangeEvent, Schemas}
import graft.table.{MergeResult, SnapTable}
import org.apache.spark.sql.functions._

/** Optimistic concurrency: competing writers conflict on the snapshot
  * claim, lose exactly once, and retry against the new current state. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
    new java.sql.Timestamp(1000L + lsn), lsn, "U")

  test("conflicting commit retries against the competing writer's snapshot") {
    val root = tmpDir("table")
    val t1 = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 8)
    CdcPipeline.applyBatch(t1, (1 to 20).map(i => ev(i, 100 + i)).toDF(), 0)
    val t2 = SnapTable.load(spark, root)
    // t2 steals t1's target version inside t1's commit window
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      assert(t2.merge(Seq(ev(21, 201)).toDF(), epoch = 1)
        .isInstanceOf[MergeResult.Committed])
    }
    try {
      val r = t1.merge(Seq(ev(22, 301)).toDF(), epoch = 2)
      assert(r.isInstanceOf[MergeResult.Committed])
    } finally t1.beforeCommitHook = () => ()
    // both writers' rows are present; versions are linear
    val texts = t1.read(spark).select("conv_id", "text").as[(String, String)]
      .collect().toMap
    assert(texts("c21") == "v201" && texts("c22") == "v301")
    assert(t1.currentVersion == 3)
    assert(t1.snapshot().parent == 2)
  }

  test("two writers racing the SAME epoch resolve to one commit, one skip") {
    val root = tmpDir("table")
    val t1 = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 8)
    CdcPipeline.applyBatch(t1, (1 to 20).map(i => ev(i, 100 + i)).toDF(), 0)
    val t2 = SnapTable.load(spark, root)
    var fired = false
    t1.beforeCommitHook = () => if (!fired) {
      fired = true
      t2.merge(Seq(ev(5, 201)).toDF(), epoch = 1) // the same epoch, delivered twice
    }
    val r = try t1.merge(Seq(ev(5, 201)).toDF(), epoch = 1)
    finally t1.beforeCommitHook = () => ()
    // t1 lost the race, retried, saw its epoch already applied -> skip
    assert(r == MergeResult.SkippedEpoch)
    assert(t1.currentVersion == 2)
    assert(t1.read(spark).filter(col("conv_id") === "c5")
      .select("text").as[String].collect().toSeq == Seq("v201"))
  }

  test("a CoW epoch retried after a concurrent rebucket rewrites the new layout") {
    val root = tmpDir("table")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 8)
    CdcPipeline.applyBatch(t, (1 to 40).map(i => ev(i, 100 + i)).toDF(), 0)
    // the epoch's touched-bucket set is counted under 8 buckets; the
    // rebucket inside its conflict window makes it retry on a 16-bucket table
    var fired = false
    t.beforeCommitHook = () => if (!fired) {
      fired = true
      SnapTable.load(spark, root).rebucket(spark, 16)
    }
    val rec = try CdcPipeline.applyBatch(t, (1 to 40).map(i => ev(i, 200 + i)).toDF(), 1)
    finally t.beforeCommitHook = () => ()
    assert(fired && rec.result == "committed")
    val keys = t.readRaw(spark).select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == keys.distinct.length,
      s"duplicate keys: ${keys.diff(keys.distinct).toSeq}")
    val rows = t.read(spark).select("conv_id", "lsn").as[(String, Long)].collect()
    assert(rows.length == 40)
    assert(rows.forall { case (c, lsn) => lsn == 200L + c.drop(1).toInt },
      s"stale rows: ${rows.filter { case (c, lsn) => lsn != 200L + c.drop(1).toInt }.toSeq}")
    val snap = t.snapshot()
    assert(snap.numBuckets == 16)
    val written = snap.files.filterNot(t.snapshot(snap.parent).files.toSet).map(_.bucket).distinct
    assert(rec.bucketsRewritten <= 16 && rec.bucketsRewritten == written.size,
      s"lineage says ${rec.bucketsRewritten} buckets, the commit wrote ${written.size}")
  }

  test("aborted attempts leave no orphan data directories") {
    // every data-writing operation goes through the same write-and-claim
    // step: a competing commit inside its conflict window makes it lose the
    // claim once, delete its attempt dir, and retry to the same result and
    // visible state as if the competitor had simply committed first
    val del = (i: Int, lsn: Long) => ev(i, lsn).copy(op = "D")
    def setup(t: SnapTable, mor: Boolean): Unit = {
      CdcPipeline.applyBatch(t, (1 to 20).map(i => ev(i, 100 + i)).toDF(), 0)
      CdcPipeline.applyBatch(t, Seq(del(1, 150), del(2, 151), ev(3, 152)).toDF(), 1,
        graft.cdc.PipelineOptions(mergeMode = if (mor) "mor" else "cow",
          morCompactDeltasPerBucket = Int.MaxValue))
    }
    val ops: Seq[(String, Boolean, SnapTable => Any)] = Seq(
      ("merge", false, _.merge(Seq(ev(22, 301)).toDF(), epoch = 10)),
      ("mergeDelta", false, _.mergeDelta(Seq(ev(22, 301)).toDF(), epoch = 10)),
      ("compact", true, _.compact(spark)),
      ("rebucket", true, _.rebucket(spark, 4)),
      ("expireTombstones", false, _.expireTombstones(spark, lsnWatermark = 1000L)))
    def compete(t: SnapTable): Unit =
      assert(SnapTable.load(spark, t.root).merge(Seq(ev(21, 201)).toDF(), epoch = 5)
        .isInstanceOf[MergeResult.Committed])
    def state(t: SnapTable) = t.read(spark).collect().map(_.toString).sorted.toSeq
    for ((name, mor, op) <- ops) {
      // the same operation with no conflict: the competitor commits first
      val calm = SnapTable.create(spark, tmpDir(s"calm-$name"), Schemas.payloadV2,
        numBuckets = 8)
      setup(calm, mor)
      compete(calm)
      val expected = op(calm)
      val root = tmpDir(s"conflict-$name")
      val t1 = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 8)
      setup(t1, mor)
      var attempts = 0
      t1.beforeCommitHook = () => { attempts += 1; if (attempts == 1) compete(t1) }
      val got = try op(t1) finally t1.beforeCommitHook = () => ()
      assert(attempts == 2, s"$name: expected one lost claim and one retry")
      assert(got == expected, s"$name: result after retry")
      assert(state(t1) == state(calm), s"$name: visible state after retry")
      val dataDirs = new java.io.File(s"$root/data").listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      val referenced = t1.history.flatMap(v => t1.snapshot(v).files)
        .map(_.path.split("/")(1)).toSet
      assert(dataDirs == referenced,
        s"$name: orphan commit dirs: ${dataDirs.diff(referenced)}")
    }
  }

  test("two tables' epochs write at once on one session, under its own fallback threshold") {
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val key = "graft.test.writer"
    val events = (1 to 200).map(i => ev(i, 100 + i)) ++ (1 to 200 by 3).map(i => ev(i, 400 + i))
    val ta = SnapTable.create(spark, tmpDir("overlap-a"), Schemas.payloadV2, numBuckets = 8)
    val tb = SnapTable.create(spark, tmpDir("overlap-b"), Schemas.payloadV2, numBuckets = 8)
    // A's first derived-column eval blocks until B's write job starts
    val gate = graft.table.Derived(graft.table.DerivedColumn("text_len",
      org.apache.spark.sql.types.IntegerType,
      udf((text: String) => { OverlapGate.pass(); text.length }).asNondeterministic()(
        col("text"))))
    val writes = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
            writes.add(s.executionId)
          case _ => ()
        }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        if (props.exists(_.getProperty(key) == "B") && exec.exists(id => writes.contains(id.toLong)))
          OverlapGate.bWriting.countDown()
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = Future(ta.merge(events.toDF(), epoch = 0, derived = gate))
      assert(OverlapGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "A's write never evaluated its derived column")
      // read while A's write task is blocked inside its reduce
      val during = spark.conf.get(threshold)
      val b = Future {
        spark.sparkContext.setLocalProperty(key, "B")
        try tb.merge(events.toDF(), epoch = 0)
        finally spark.sparkContext.setLocalProperty(key, null)
      }
      val results = Seq(Await.result(a, 3.minutes), Await.result(b, 3.minutes))
      assert(during == SnapTable.TaskKeyBudget.toString && OverlapGate.overlapped,
        s"threshold during A's write: $during; B's write started while A's was blocked: " +
          OverlapGate.overlapped)
      assert(results.forall(_.isInstanceOf[MergeResult.Committed]))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      pool.shutdown()
    }
    val oracle = graft.oracle.OracleReducer.reduce(events)
      .map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    for (t <- Seq(ta, tb)) assert(t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSet == oracle)
  }
}

/** JVM-wide latches for the overlap test: tasks deserialize their closures,
  * so they reach shared state only through an object. */
object OverlapGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val bWriting = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
  @volatile var overlapped = false

  /** The first caller waits (at most 30 s) for B's write job to start. */
  def pass(): Unit = if (first.compareAndSet(true, false)) {
    entered.countDown()
    overlapped = bWriting.await(30, java.util.concurrent.TimeUnit.SECONDS)
  }
}
