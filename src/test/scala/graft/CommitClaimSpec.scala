package graft.table

import graft.SparkSpec
import graft.cdc.CdcPipeline
import graft.model.{ChangeEvent, Schemas}
import graft.oracle.OracleReducer
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/**
 * The publish protocol itself: a manifest is written aside and claimed
 * under its final name by one atomic no-replace step — a hard link on the
 * local FS, where rename silently overwrites an existing destination and a
 * rename-based claim would let two racing writers both "commit" the same
 * version. These tests race the claim on the local FS, build each state a
 * kill during a publish can leave, and stall a writer across retention.
 */
class CommitClaimSpec extends SparkSpec {
  import spark.implicits._

  private def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
    new java.sql.Timestamp(1000L + lsn), lsn, "U")

  test("N threads racing tryCommit on one version: exactly one claim wins") {
    val root = tmpDir("claim")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val base = t.snapshot()
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[(Int, Boolean)] {
        def call(): (Int, Boolean) = {
          start.await()
          // distinct content per writer so the surviving manifest identifies
          // its author
          (i, t.tryCommit(base.copy(version = 1L,
            props = base.props + ("writer" -> i.toString))))
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    val winners = outcomes.filter(_._2)
    assert(winners.size == 1, s"claims won: $winners")
    // the committed manifest is whole and is the winner's
    assert(t.snapshot(1L).props("writer") == winners.head._1.toString)
    assert(t.currentVersion == 1L)
  }

  test("N threads racing publish of one sample and one lineage name: exactly one claim each") {
    val root = tmpDir("publish")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val n = 8
    for (rel <- Seq("meta/dirty/epoch-00000003.json", "meta/lineage/epoch-00000003.json")) {
      val target = new org.apache.hadoop.fs.Path(root, rel)
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(n)
      val results = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Int, Boolean)] {
          def call(): (Int, Boolean) = { start.await(); (i, t.publish(target, s"writer $i")) }
        })
      }
      start.countDown()
      val winners = results.map(_.get(30, TimeUnit.SECONDS)).filter(_._2)
      pool.shutdown()
      assert(winners.size == 1, s"$rel claims won: $winners")
      // the name is one whole file, the winner's, and every loser's aside is gone
      val file = Paths.get(root, rel)
      assert(Files.isRegularFile(file), s"$rel is not a plain file")
      assert(new String(Files.readAllBytes(file), StandardCharsets.UTF_8) ==
        s"writer ${winners.head._1}")
      assert(file.getParent.toFile.list().toSeq == Seq(file.getFileName.toString))
    }
    // a committed lineage record is never replaced: a later claim of its name loses
    val committed = new org.apache.hadoop.fs.Path(root, "meta/lineage/epoch-00000003.json")
    val before = t.readString(committed)
    assert(!t.publish(committed, "late") && t.readString(committed) == before)
    assert(new java.io.File(root, "meta/lineage").list().toSeq == Seq("epoch-00000003.json"))
  }

  private def oracle(events: Seq[ChangeEvent]) =
    OracleReducer.reduce(events).map(e => (e.conv_id, e.turn_idx, e.text))
  private def state(t: SnapTable) = t.read(spark).select("conv_id", "turn_idx", "text")
    .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
  private def asides(root: String): Seq[String] =
    new java.io.File(root, "meta").list().filter(_.startsWith(".snap-")).toSeq

  /** A kill during one epoch's publish leaves `crash`'s state behind (it
    * may commit epochs of its own, returned). The next epoch must commit
    * on its first attempt, reads must equal the oracle, and retention must
    * collect the stale aside. */
  private def recoversFrom(name: String)(
      crash: (SnapTable, String) => Seq[ChangeEvent]): Unit = {
    val root = tmpDir(name)
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val e0 = (1 to 10).map(i => ev(i, 100 + i))
    CdcPipeline.applyBatch(t, e0.toDF(), 0)
    val crashed = crash(t, root)
    assert(asides(root).size == 1)
    val next = Seq(ev(11, 301), ev(3, 302))
    var attempts = 0
    t.beforeCommitHook = () => attempts += 1
    val rec = try CdcPipeline.applyBatch(t, next.toDF(), t.committedEpoch + 1)
      finally t.beforeCommitHook = () => ()
    assert(rec.result == "committed" && attempts == 1, s"${rec.result} after $attempts attempts")
    val expected = oracle(e0 ++ crashed ++ next)
    assert(state(t) == expected)
    t.expireSnapshots(keepLast = 10)
    assert(asides(root).isEmpty, s"stale asides: ${asides(root)}")
    assert(state(t) == expected)
    assert(t.history == (0L to t.currentVersion), "versions are gap-free")
  }

  test("a kill mid-write leaves a half-written aside: the next epoch commits at once") {
    recoversFrom("half-aside") { (_, root) =>
      Files.write(Paths.get(root, "meta", SnapTable.asideName("snap-00000002.json")),
        """{"version":2,"paren""".getBytes(StandardCharsets.UTF_8))
      Nil
    }
  }

  test("a kill before the claim leaves a closed aside: the next epoch commits at once") {
    recoversFrom("closed-aside") { (t, root) =>
      implicit val fmts: Formats = Serialization.formats(NoTypeHints)
      val lost = t.snapshot().copy(version = 2L, parent = 1L,
        props = t.snapshot().props + ("writer" -> "killed"))
      Files.write(Paths.get(root, "meta", SnapTable.asideName("snap-00000002.json")),
        Serialization.write(lost).getBytes(StandardCharsets.UTF_8))
      Nil
    }
  }

  test("a kill after the link leaves a published manifest's aside: the next epoch commits") {
    recoversFrom("linked-aside") { (t, root) =>
      val applied = Seq(ev(12, 201))
      CdcPipeline.applyBatch(t, applied.toDF(), 1)
      // the local claim is a hard link: until the aside's delete, the
      // published manifest has a second name
      Files.createLink(Paths.get(root, "meta", SnapTable.asideName("snap-00000002.json")),
        Paths.get(root, "meta", "snap-00000002.json"))
      applied
    }
  }

  test("a CoW epoch on the session's local FS claims its manifest by link") {
    val root = tmpDir("claim-link")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val e0 = (1 to 10).map(i => ev(i, 100 + i))
    CdcPipeline.applyBatch(t, e0.toDF(), 0)
    // a rival publishes v2 between this writer's snapshot and its claim:
    // link(2) refuses the taken name, where a local rename would replace
    // the rival's manifest, so the epoch retries and lands as v3
    implicit val fmts: Formats = Serialization.formats(NoTypeHints)
    val rival = t.snapshot().copy(version = 2L, parent = 1L,
      props = t.snapshot().props + ("writer" -> "rival"))
    var attempts = 0
    t.beforeCommitHook = () => {
      attempts += 1
      if (attempts == 1) Files.write(Paths.get(root, "meta", "snap-00000002.json"),
        Serialization.write(rival).getBytes(StandardCharsets.UTF_8)): Unit
    }
    val next = Seq(ev(11, 201))
    val rec = try CdcPipeline.applyBatch(t, next.toDF(), 1)
      finally t.beforeCommitHook = () => ()
    assert(rec.result == "committed" && attempts == 2, s"${rec.result} after $attempts attempts")
    assert(t.snapshot(2L).props("writer") == "rival" && t.currentVersion == 3L)
    assert(state(t) == oracle(e0 ++ next))
  }

  test("a writer stalled across a retention round does not lose its epoch") {
    val root = tmpDir("stall")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val epochs = Seq((1 to 10).map(i => ev(i, 100 + i)), Seq(ev(11, 201)))
    CdcPipeline.applyBatch(t, epochs(0).toDF(), 0)
    // epoch 1's writer stalls before its publish of v2; meanwhile other
    // writers commit v2 and v3, each rewriting every bucket, and a
    // retention round keeps only v3 — deleting v1's files, which the
    // stalled writer's manifest still lists — so the slot it targets is
    // free again
    var fired = 0
    t.beforeCommitHook = () => if (fired == 0) {
      fired += 1
      t.rebucket(spark, 4)
      t.rebucket(spark, 4)
      t.expireSnapshots(keepLast = 1)
    }
    val first = try scala.util.Try(CdcPipeline.applyBatch(t, epochs(1).toDF(), 1))
      finally t.beforeCommitHook = () => ()
    assert(fired == 1)
    // either the call lands the epoch, or it refuses the freed slot loudly
    // and re-applying the epoch lands it
    first.failed.foreach(e => assert(e.getMessage.contains("retention"), e.getMessage))
    if (first.isFailure) CdcPipeline.applyBatch(t, epochs(1).toDF(), 1)
    val keys = t.read(spark).select("conv_id").as[String].collect().toSet
    assert(keys.contains("c11"), s"epoch 1's key is missing: history ${t.history}")
    // and no lineage record calls an epoch committed that the table lacks
    CdcPipeline.readLineage(spark, t).filter(_.result == "committed").foreach { r =>
      assert(epochs(r.epoch.toInt).map(_.conv_id).forall(keys),
        s"epoch ${r.epoch} is recorded committed but absent")
    }
    // the stalled writer's manifest is not listed: every retained version
    // is on the current chain and every file it lists is there to read
    assert(t.history == Seq(3L, 4L) && t.snapshot(4L).parent == 3L, s"history ${t.history}")
    val firstSeen = t.readVersionHistory(spark).select("conv_id", "first_version")
      .as[(String, Long)].collect().toMap
    assert(firstSeen.size == 11 && firstSeen("c11") == 4L && firstSeen("c1") == 3L, firstSeen)
  }

  test("a torn manifest an earlier build left is deleted, at the head or lower in history") {
    val root = tmpDir("legacy-torn")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    val e0 = (1 to 10).map(i => ev(i, 100 + i))
    CdcPipeline.applyBatch(t, e0.toDF(), 0)
    // earlier builds claimed a version by creating its manifest and writing
    // through it, kept a `_current` pointer, and skipped a torn claim past
    // a grace window: a kill mid-claim left a torn v2, a later writer
    // committed v3 on v1, and another kill left a torn v4 at the head
    implicit val fmts: Formats = Serialization.formats(NoTypeHints)
    def meta(name: String, text: String) =
      Files.write(Paths.get(root, "meta", name), text.getBytes(StandardCharsets.UTF_8))
    meta("snap-00000002.json", """{"version":2,"parent":1,"numBu""")
    meta("snap-00000003.json", Serialization.write(t.snapshot(1L).copy(version = 3L)))
    meta("snap-00000004.json", "")
    meta("_current", "3")
    val u = SnapTable.load(spark, root)
    assert(u.history == Seq(0L, 1L, 2L, 3L) && u.currentVersion == 3L, s"history ${u.history}")
    val next = Seq(ev(11, 301), ev(3, 302))
    var attempts = 0
    u.beforeCommitHook = () => attempts += 1
    val rec = try CdcPipeline.applyBatch(u, next.toDF(), 1)
      finally u.beforeCommitHook = () => ()
    assert(rec.result == "committed" && attempts == 1 && u.currentVersion == 4L,
      s"${rec.result} v${u.currentVersion} after $attempts attempts")
    assert(state(u) == oracle(e0 ++ next))
    // the version history reads past the lower corpse, deleting it
    assert(u.readVersionHistory(spark).count() == 12)
    assert(u.history == Seq(0L, 1L, 3L, 4L), s"history ${u.history}")
    intercept[java.io.FileNotFoundException](u.readVersion(spark, 2L))
    assert(u.expireSnapshots(keepLast = 1)._1 == 3)
    assert(u.history == Seq(4L) && state(u) == oracle(e0 ++ next))
  }

  test("pre-stamp tables re-stamp without a rewrite (stampBucketFn)") {
    val root = tmpDir("prestamp")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    CdcPipeline.applyBatch(t, (1 to 10).map(i => ev(i, 100 + i)).toDF(), 0)
    // rewrite the manifest as if a pre-stamp build (no bucketFn prop) wrote it
    val p = Paths.get(root, "meta", "snap-00000001.json")
    val cleaned = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replace("\"graft.bucketFn\":\"2\",", "")
      .replace(",\"graft.bucketFn\":\"2\"", "")
    assert(!cleaned.contains("graft.bucketFn"))
    Files.write(p, cleaned.getBytes(StandardCharsets.UTF_8))
    val t2 = SnapTable.load(spark, root)
    val e = intercept[IllegalArgumentException] {
      t2.merge(Seq(ev(11, 201)).toDF(), epoch = 1)
    }
    assert(e.getMessage.contains("stampBucketFn"), s"got: ${e.getMessage}")
    // the operator knows this layout is already hash-v2: props-only re-stamp
    t2.stampBucketFn()
    assert(t2.merge(Seq(ev(11, 201)).toDF(), epoch = 1)
      .isInstanceOf[MergeResult.Committed])
    assert(t2.read(spark).count() == 11)
  }

  test("merge refuses a table laid out by an older bucket-hash version") {
    val root = tmpDir("bucketfn")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    CdcPipeline.applyBatch(t, (1 to 10).map(i => ev(i, 100 + i)).toDF(), 0)
    // rewrite the manifest as if an older build (hash v1) had laid it out
    val p = Paths.get(root, "meta", "snap-00000001.json")
    val doctored = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replace("\"graft.bucketFn\":\"2\"", "\"graft.bucketFn\":\"1\"")
    Files.write(p, doctored.getBytes(StandardCharsets.UTF_8))
    val t2 = SnapTable.load(spark, root)
    val e = intercept[IllegalArgumentException] {
      t2.merge(Seq(ev(11, 201)).toDF(), epoch = 1)
    }
    assert(e.getMessage.contains("rebucket"))
    intercept[IllegalArgumentException] { t2.readKey(spark, "c1", 1L) }
    // rebucket rewrites every row under the current hash and re-stamps
    t2.rebucket(spark, 4)
    assert(t2.snapshot().props(SnapTable.PropBucketFn)
      == SnapTable.BucketFnVersion.toString)
    assert(t2.merge(Seq(ev(11, 201)).toDF(), epoch = 1)
      .isInstanceOf[MergeResult.Committed])
    assert(t2.read(spark).count() == 11)
  }
}
