package graft

import graft.cdc.{CdcPipeline, PipelineOptions, RetentionPolicy}
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.Schemas
import graft.table.SnapTable

/**
 * Bounded-growth maintenance for long-running ingest: replay many epochs
 * with the retention policy on and assert that snapshot manifests, data
 * commit dirs, and per-epoch meta records stay bounded while the table
 * state stays oracle-equal.
 */
class RetentionSpec extends SparkSpec {
  import spark.implicits._

  test("many epochs with retention hold bounded meta/data, state oracle-equal") {
    val log = tmpDir("retlog")
    val root = s"${tmpDir("rettbl")}/t"
    val cfg = GenConfig(numEvents = 8000, numConvs = 120, chunks = 16)
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val table = SnapTable.create(spark, root, Schemas.payloadV1, numBuckets = 8)
    val opts = PipelineOptions(retention = Some(RetentionPolicy(
      retainSnapshots = 3,
      retainMetaEpochs = 4,
      // the generator's out-of-order window is bounded; a lag far above it
      // can only drop genuinely settled tombstones
      tombstoneLsnLag = Some(4000L),
      everyEpochs = 1)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val chunks = fs.listStatus(new org.apache.hadoop.fs.Path(log))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    assert(chunks.length == 16)
    chunks.zipWithIndex.foreach { case (dir, i) =>
      CdcPipeline.replayBatch(spark, dir, table, opts, epoch = i.toLong)
      // bounded AT EVERY EPOCH, not just at the end (retention runs each
      // epoch here; tombstone expiry may add its own snapshot before the
      // horizon is re-enforced next round, hence the +1 slack)
      assert(table.history.size <= 4, s"epoch $i: history=${table.history}")
    }

    // meta growth bounded: lineage + quarantine records only for the last
    // retainMetaEpochs epochs
    val lineageEpochs = CdcPipeline.readLineage(spark, table).map(_.epoch)
    assert(lineageEpochs.forall(_ >= 15 - 4), s"lineage kept: $lineageEpochs")
    assert(lineageEpochs.size <= 5)

    // data growth bounded: only commit dirs referenced by retained
    // snapshots survive
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val referenced = table.history
      .flatMap(v => table.snapshot(v).files.map(_.path.split("/")(1))).toSet
    assert(dataDirs == referenced, s"orphans: ${dataDirs.diff(referenced)}")
    assert(table.history.size <= 4)
    // version 0 is long expired, yet the table is found, not re-created
    assert(!table.history.contains(0L) && SnapTable.exists(spark, root))
    intercept[IllegalArgumentException](SnapTable.create(spark, root, Schemas.payloadV1))

    // state unchanged by all that maintenance: live rows equal the oracle
    val expected = graft.oracle.OracleReducer.reduce(
      ChangeStreamGen.events(spark, cfg).drop("pos")
        .as[graft.model.ChangeEvent].collect().toSeq)
    val got = table.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected.map(e => (e.conv_id, e.turn_idx, e.text)))

    // and tombstones older than the lag were physically dropped
    val maxLsn = table.maxAppliedLsn(spark)
    val oldTombstones = table.readRaw(spark)
      .filter(org.apache.spark.sql.functions.col("op") === "D" &&
        org.apache.spark.sql.functions.col("lsn") < maxLsn - 4000L)
    assert(oldTombstones.count() == 0, "expired tombstones still present")
  }

  test("orphaned .tmp-epoch aside dirs are GC'd past the meta horizon") {
    import org.apache.hadoop.fs.Path
    val log = tmpDir("tmplog")
    val root = s"${tmpDir("tmptbl")}/t"
    val cfg = GenConfig(numEvents = 2000, numConvs = 60, chunks = 10)
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val table = SnapTable.create(spark, root, Schemas.payloadV1, numBuckets = 8)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    // what a killed publish leaves (its aside, in either sideband dir) and
    // what an earlier build left (`.tmp-epoch-*` asides, `epoch-N/` sample
    // dirs holding a parquet file), for epochs below the final horizon
    // (9 - 3 = 6) and at or above it
    def corpses(epoch: Int): Seq[Path] = {
      val (dirty, lineage) = (new Path(root, "meta/dirty"), new Path(root, "meta/lineage"))
      val files = Seq(new Path(dirty, f".epoch-$epoch%08d.json.0a1b2c3d.tmp"),
        new Path(lineage, f".epoch-$epoch%08d.json.0a1b2c3d.tmp"),
        new Path(lineage, f".tmp-epoch-$epoch%08d-111.json"),
        new Path(dirty, f".tmp-epoch-$epoch%08d-111/part-0.parquet"),
        new Path(dirty, f"epoch-$epoch%08d/part-0.parquet"))
      files.foreach(f => fs.create(f, false).close())
      files.take(3) ++ files.drop(3).map(_.getParent)
    }
    val (old, fresh) = (Seq(0, 5).flatMap(corpses), Seq(6, 9).flatMap(corpses))
    val opts = PipelineOptions(retention = Some(RetentionPolicy(
      retainSnapshots = 3, retainMetaEpochs = 3, everyEpochs = 1)))
    val chunks = fs.listStatus(new Path(log))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    chunks.zipWithIndex.foreach { case (dir, i) =>
      CdcPipeline.replayBatch(spark, dir, table, opts, epoch = i.toLong)
    }
    // below the horizon every corpse is collected (it would otherwise
    // accumulate forever on a long stream)...
    assert(old.forall(!fs.exists(_)), s"not GC'd: ${old.filter(fs.exists)}")
    // ...while those at or above it (possibly a LIVE writer's) are untouched
    assert(fresh.forall(fs.exists), s"wrongly deleted: ${fresh.filterNot(fs.exists)}")
  }
}
