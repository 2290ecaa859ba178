package graft

import graft.cdc.CdcPipeline
import graft.model.{ChangeEvent, Schemas}
import graft.oracle.OracleReducer
import graft.table.SnapTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, spark_partition_id}

import scala.jdk.CollectionConverters._

/**
 * Task sizing of the LWW reduce-and-write stage: the task count comes from
 * the cores and the per-task key budget, capped by the buckets written,
 * while the bucket stays the file unit (one file per written bucket).
 */
class WriteStageSpec extends SparkSpec {
  import spark.implicits._

  private def ev(conv: Int, turn: Int, lsn: Long, text: String = "v", op: String = "U") =
    ChangeEvent(s"c$conv", turn, "user", s"$text$lsn", null,
      new java.sql.Timestamp(1000L + lsn), lsn, op)

  /** Task counts of the stages that wrote output in jobs run by `body` on
    * this thread (tagged by a local property, so suites sharing the
    * session do not count). */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val key = "graft.test.writeStage"
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) == tag))
          j.stageIds.foreach(stages.add)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        if (stages.contains(i.stageId) &&
            i.taskMetrics.outputMetrics.recordsWritten > 0) written.add(i.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(key, tag)
      try body finally spark.sparkContext.setLocalProperty(key, null)
      // listener delivery is async: poll until the record is stable
      var stable = 0
      var last = -1
      while (stable < 5) {
        Thread.sleep(200)
        if (written.size == last) stable += 1 else { stable = 0; last = written.size }
      }
      written.toArray(Array.empty[Integer]).map(_.intValue).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sizing rule: cores, raised by input rows over the key budget, capped by buckets") {
    val budget = SnapTable.TaskKeyBudget.toLong
    val all32 = (0 until 32).toSet
    assert(SnapTable.lwwTasks(all32, Some(1000L), 4) == 4)
    assert(SnapTable.lwwTasks(all32, Some(0L), 4) == 4)
    // more input rows than budget x cores raise the count until the fullest
    // task's buckets fit: 32 buckets put 10 on the fullest of 4 tasks, and
    // at budget/8 rows a bucket the first count holding at most 7 is 7
    assert(SnapTable.lwwTasks(all32, Some(budget * 4 + 1), 4) == 7)
    // at 10 x budget only 3 buckets fit a task; the first such count is 29
    assert(SnapTable.lwwTasks(all32, Some(budget * 10), 4) == 29)
    // 1.77M rows at 8 cores fit 4 buckets a task; the fullest task holds
    // 6, 8, 7, 5, 8, 5, 5, 5, 4 buckets at 8 … 16 tasks
    assert(SnapTable.lwwTasks(all32, Some(1770000L), 8) == 16)
    // never more tasks than buckets written
    assert(SnapTable.lwwTasks(all32, Some(budget * 1000), 4) == 32)
    assert(SnapTable.lwwTasks(Set(0, 1), Some(10L), 8) == 2)
    // unknown input size: one task per bucket
    assert(SnapTable.lwwTasks(all32, None, 4) == 32)
    assert(SnapTable.lwwTasks(Set.empty, Some(0L), 4) == 1)
    // the rule places buckets where the bucket exchange does
    val buckets = spark.range(32).select(col("id").cast("int").as(SnapTable.BucketCol))
    for (t <- Seq(4, 8, 32)) {
      val placed = buckets.repartition(t, col(SnapTable.BucketCol))
        .select(col(SnapTable.BucketCol), spark_partition_id()).as[(Int, Int)].collect()
      assert(placed.length == 32)
      placed.foreach { case (b, p) => assert(SnapTable.placement(b, t) == p, s"bucket $b at $t") }
    }
  }

  test("a CoW merge touching 32 buckets writes them in one task per core, one file each") {
    val cores = spark.sparkContext.defaultParallelism
    assume(cores < 32, s"needs fewer than 32 cores, has $cores")
    val load = (1 to 400).map(i => ev(i, i % 3, i))
    val tail = (1 to 400 by 2).map(i =>
      ev(i, i % 3, 1000L + i, "w", if (i % 10 == 1) "D" else "U")) :+ ev(999, 0, 2000L)
    val sized = SnapTable.create(spark, tmpDir("sized"), Schemas.payloadV2, numBuckets = 32)
    CdcPipeline.applyBatch(sized, load.toDF(), epoch = 0)
    val before = sized.snapshot()
    val touched = tail.toDF().select(sized.bucketExpr(32)).distinct().count()
    assert(touched == 32, s"the tail must touch every bucket, touched $touched")

    // the pipeline passes its batch count, so the write runs one task per core
    val sizedTasks = writeStageTasks(CdcPipeline.applyBatch(sized, tail.toDF(), epoch = 1))
    assert(sizedTasks == Seq(cores), s"write stage tasks: $sizedTasks")
    // without a batch-rows hint the input size is unknown: one task per bucket
    val perBucket = SnapTable.create(spark, tmpDir("perbucket"), Schemas.payloadV2,
      numBuckets = 32)
    perBucket.merge(load.toDF(), epoch = 0)
    val perBucketTasks = writeStageTasks(perBucket.merge(tail.toDF(), epoch = 1))
    assert(perBucketTasks == Seq(32), s"write stage tasks: $perBucketTasks")

    // the layout is unchanged: exactly one new file per touched bucket
    val added = sized.snapshot().files.filterNot(before.files.toSet)
    assert(added.map(_.bucket).sorted == (0 until 32))
    assert(added.forall(_.kind == "base"))
    // and so is the state: both tables hold the oracle's winners
    val oracle = OracleReducer.reduce(load ++ tail).filter(_.op != "D")
      .map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    def state(t: SnapTable) = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSet
    assert(state(sized) == oracle)
    assert(state(perBucket) == oracle)
  }

  test("the session's sort fallback threshold governs the merge reduce") {
    val session = spark.newSession()
    session.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16")
    val load = (1 to 1200).map(i => ev(i, i % 3, i))
    val tail = (1 to 1200 by 2).map(i =>
      ev(i, i % 3, 2000L + i, "w", if (i % 10 == 1) "D" else "U"))
    val t = SnapTable.create(spark, tmpDir("valve"), Schemas.payloadV2, numBuckets = 8)
    // the LWW aggregates of each write into the table, final plans
    val aggs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.optimizedPlan match {
        case _: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
          AqePlans.collect(qe.executedPlan) {
            case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
          }.foreach(aggs.add)
        case _ => ()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      t.merge(session.createDataFrame(load), epoch = 0)
      t.merge(session.createDataFrame(tail), epoch = 1)
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 30000
      while (aggs.size < 4 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally session.listenerManager.unregister(listener)
    assert(aggs.size == 4, s"expected two aggregate phases in each of two writes: $aggs")
    val fallbacks = aggs.asScala.map(_.metrics("numTasksFallBacked").value).sum
    assert(fallbacks > 0, "no reduce task fell back to the sort at a 16-key threshold")
    val oracle = OracleReducer.reduce(load ++ tail).filter(_.op != "D")
      .map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(t.read(spark).select("conv_id", "turn_idx", "text").as[(String, Int, String)]
      .collect().toSet == oracle)
  }

  test("bucketOf computes the layout bucket of int and long turn_idx keys") {
    val keys = (1 to 300).map(i => (s"conv-${i * 7919}", (i * 104729L) % 5000))
    val intKeys = keys.map { case (c, t) => (c, t.toInt) }.toDF("conv_id", "turn_idx")
    val longKeys = keys.map { case (c, t) => (c, t + 3000000000L) }.toDF("conv_id", "turn_idx")
    val t = SnapTable.create(spark, tmpDir("bucketof"), Schemas.payloadV2, numBuckets = 32)
    for ((frame, n) <- Seq((intKeys, 32), (longKeys, 32), (intKeys, 7), (longKeys, 1))) {
      val laid = frame.select(col("conv_id"), col("turn_idx").cast("long"),
        t.bucketExpr(n)).as[(String, Long, Int)].collect()
      assert(laid.length == 300)
      laid.foreach { case (c, ti, b) =>
        assert(t.bucketOf(spark, c, ti, n) == b, s"key ($c, $ti) at $n buckets")
      }
    }
  }

  test("point lookups find every key of a long-turn_idx table") {
    val t = SnapTable.create(spark, tmpDir("longkeys"), Schemas.payloadV2, numBuckets = 16)
    val rows = (1 to 60).map(i => ev(i, 0, i)).toDF()
      .withColumn("turn_idx", (col("lsn") * 100000000L).cast("long"))
    CdcPipeline.applyBatch(t, rows, epoch = 0)
    (1 to 60).foreach { i =>
      assert(t.readKey(spark, s"c$i", i * 100000000L).count() == 1, s"key c$i")
    }
  }
}

/** Walks a plan through its adaptive wrappers and query stages. */
private object AqePlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
