package graft

import graft.cdc.CdcPipeline
import graft.model.{ChangeEvent, Schemas}
import graft.table.SnapTable

import java.net.URI
import scala.jdk.CollectionConverters._

/** A `file://`-semantics filesystem under a DIFFERENT scheme: the probe for
  * "would this code path work on HDFS/object storage" without a cluster.
  * Any `java.io.File` existence check is blind to this scheme. Opening the
  * file named [[GraftTestFs.vanished]] fails as if it had been deleted
  * after it was listed; [[GraftTestFs.opening]] records the paths opened. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    if (GraftTestFs.vanished.contains(f.getName)) throw new java.io.FileNotFoundException(s"$f")
    else {
      GraftTestFs.opened.add(f.toUri.getPath)
      super.open(f, bufferSize)
    }
}
object GraftTestFs {
  @volatile var vanished: Option[String] = None
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A root for the local dir `dir` under this filesystem's scheme. */
  def root(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s"graftfs:$dir"
  }

  /** `body`'s value and the local path of each open it made through this
    * filesystem, in order. */
  def opening[A](body: => A): (A, Seq[String]) = {
    opened.clear()
    val a = body
    (a, opened.asScala.toSeq)
  }
}

/**
 * Table-existence checks must go through the table root's OWN Hadoop
 * filesystem: the old `new java.io.File(root + "/meta").exists` probe
 * returns false for every non-`file://` scheme, silently sending ingest /
 * sync / job lanes down the CREATE path over a live table.
 */
class FsSchemeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(i: Int, lsn: Long) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
    new java.sql.Timestamp(1000L + lsn), lsn, "U")

  test("a table under a non-file:// scheme is found, loaded and merged") {
    val root = GraftTestFs.root(spark, s"${tmpDir("schemetbl")}/t")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 4)
    CdcPipeline.applyBatch(t, (1 to 10).map(i => ev(i, 100 + i)).toDF(), 0)
    // the java.io probe the old code used cannot see this table...
    assert(!new java.io.File(s"$root/meta").exists)
    // ...the Hadoop-FS probe can
    assert(SnapTable.exists(spark, root))
    // and the full load -> merge -> read path works through the scheme
    val t2 = SnapTable.load(spark, root)
    assert(t2.merge((11 to 15).map(i => ev(i, 200 + i)).toDF(), epoch = 1)
      .isInstanceOf[graft.table.MergeResult.Committed])
    assert(t2.read(spark).count() == 15)
    assert(t2.readKey(spark, "c3", 1L).select("text").as[String].collect().toSeq == Seq("v103"))
    // a job lane writing to the same root takes the LOAD path (a create
    // would blow up with "table already exists")
    val json =
      s"""{"job": {
         |  "setting": {},
         |  "content": [{
         |    "reader": {"name": "snaptablereader", "parameter": {"path": "$root"}},
         |    "writer": {"name": "streamwriter", "parameter": {}}}]}}
         |""".stripMargin
    val report = graft.job.Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.rowsRead == 15)
  }

  test("a lineage record that vanishes between list and open is skipped") {
    val t = SnapTable.create(spark, GraftTestFs.root(spark, s"${tmpDir("vanish")}/t"),
      Schemas.payloadV2, numBuckets = 4)
    for (e <- 0 to 2)
      CdcPipeline.applyBatch(t, Seq(ev(e, 100 + e)).toDF(), e)
    GraftTestFs.vanished = Some("epoch-00000001.json")
    val epochs = try CdcPipeline.readLineage(spark, t).map(_.epoch)
      finally GraftTestFs.vanished = None
    assert(epochs == Seq(0L, 2L))
  }
}
