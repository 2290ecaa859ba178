package graft

import graft.cdc.{CdcPipeline, PipelineOptions}
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.{ChangeEvent, Schemas}
import graft.oracle.OracleReducer
import graft.table.SnapTable

import java.util.concurrent.TimeUnit

/**
 * HARD-crash recovery: a child JVM runs the real CLI ingest and is killed
 * with SIGKILL (`destroyForcibly`) while commits are in flight — no
 * shutdown hooks, no graceful stream stop, arbitrary interruption points
 * including mid-manifest-write and between a manifest's claim and its
 * aside's delete. The stream is then resumed (again through the
 * checkpoint) and the final table must equal the in-memory oracle with no
 * epoch applied twice. This is the conformance test for the commit
 * protocol as a whole: write-aside-then-link publishes (every listed
 * manifest whole, versions gap-free) and checkpoint + epoch-guard
 * exactly-once. (The graceful-stop variant lives in CdcEndToEndSpec; this
 * one covers what `q.stop()` cannot.)
 */
class KillRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(seed = 77, numEvents = 24000, numConvs = 300, chunks = 8)

  private def oracleState(): Seq[(String, Int, String)] =
    OracleReducer.reduce(
      ChangeStreamGen.events(spark, cfg).drop("pos").as[ChangeEvent].collect().toSeq)
      .map(e => (e.conv_id, e.turn_idx, e.text))

  private def childCmd(log: String, tableDir: String): Seq[String] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // a SIGKILLed child runs no exit cleanup: its temp files (Spark
    // artifact dirs, extracted native libraries) go under a dir this JVM
    // deletes
    Seq(javaBin, "-Xmx3g", "-Dspark.ui.enabled=false",
      s"-Djava.io.tmpdir=${tmpDir("child-tmp")}") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.Main", "ingest", "--changelog", log, "--table", tableDir,
      "--mode", "stream", "--max-files-per-trigger", "1", "--cores", "2")
  }

  test("two JVMs ingest the same changelog into one table: each epoch applies once") {
    // cross-process optimistic concurrency: both children see every file
    // (separate checkpoints), race every epoch's commit, and the epoch
    // guard + no-replace claim must resolve each epoch to exactly
    // one Committed — the in-process race test (CommitClaimSpec) cannot
    // cover two separate SparkSessions/JVMs contending on the real FS
    val log = tmpDir("race-log")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val tableDir = tmpDir("race-table")
    SnapTable.create(spark, tableDir, Schemas.payloadV2, numBuckets = 8)
    val procs = (0 until 2).map { i =>
      new ProcessBuilder(
        (childCmd(log, tableDir) ++ Seq("--checkpoint", tmpDir(s"race-ckpt-$i"))): _*)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectErrorStream(true).start()
    }
    procs.foreach { p =>
      assert(p.waitFor(300, TimeUnit.SECONDS), "racing ingest timed out")
      assert(p.exitValue() == 0, s"racing ingest failed rc=${p.exitValue()}")
    }
    val t = SnapTable.load(spark, tableDir)
    val got = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == oracleState())
    // lineage from BOTH writers lands in the shared meta dir (the committed
    // writer owns epoch-N.json; racers record skips under distinct names):
    // every epoch resolves to EXACTLY one committed + any number of skips
    val byEpoch = CdcPipeline.readLineage(spark, t).groupBy(_.epoch)
    assert(byEpoch.nonEmpty)
    byEpoch.foreach { case (e, recs) =>
      assert(recs.count(_.result == "committed") == 1,
        s"epoch $e: ${recs.map(_.result)}")
    }
    assert(byEpoch.values.flatten.exists(_.result == "skipped_epoch"),
      "expected at least one cross-writer skip (both children raced every epoch)")
  }

  test("SIGKILL mid-ingest, twice: resume converges to oracle, no double-apply") {
    val log = tmpDir("kill-log")
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val tableDir = tmpDir("kill-table")
    SnapTable.create(spark, tableDir, Schemas.payloadV2, numBuckets = 8)

    var killed = 0
    for (round <- 0 until 2) {
      val before = SnapTable.load(spark, tableDir).currentVersion
      val proc = new ProcessBuilder(childCmd(log, tableDir): _*)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectErrorStream(true).start()
      // wait for the child to commit at least one more version, then
      // SIGKILL it at an arbitrary point of the NEXT commit's lifecycle
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
      var advanced = false
      while (!advanced && proc.isAlive && System.nanoTime() < deadline) {
        Thread.sleep(200)
        advanced = SnapTable.load(spark, tableDir).currentVersion > before
      }
      if (proc.isAlive) {
        Thread.sleep(round * 150L) // vary the kill phase between rounds
        proc.destroyForcibly()
        proc.waitFor()
        killed += 1
      } else {
        // child drained everything before we could kill it — still a valid
        // resume test for the next round / final pass
        assert(proc.waitFor() == 0, "child ingest failed on its own")
      }
      assert(advanced || !proc.isAlive, "child made no progress in 180s")
    }
    assert(killed >= 1, "no kill landed; tighten the changelog size")

    // resume IN-PROCESS through the same checkpoint and drain the rest
    val t = SnapTable.load(spark, tableDir)
    val q = CdcPipeline.stream(spark, log, t, s"$tableDir/_checkpoint",
      PipelineOptions(maxFilesPerTrigger = 1))
    q.awaitTermination()

    val got = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == oracleState())
    val committed = CdcPipeline.readLineage(spark, t).filter(_.result == "committed").map(_.epoch)
    assert(committed.distinct.size == committed.size, s"epoch applied twice: $committed")
    // the manifest chain is whole: versions are gap-free and each parses
    // into a child of the version before it
    assert(t.history == (0L to t.currentVersion), s"history: ${t.history}")
    t.history.drop(1).foreach(v => assert(t.snapshot(v).parent == v - 1))
  }
}
