package graft

import graft.cdc.CdcPipeline
import graft.model.Schemas
import graft.table.SnapTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.{DecryptionPropertiesFactory, EncryptionPropertiesFactory,
  FileDecryptionProperties, FileEncryptionProperties}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

/** A parquet crypto factory that encrypts and decrypts nothing and records
  * each file a reader asks it for decryption properties of: set only in a
  * session's conf, it shows which parquet reads were given that conf. */
class CountingCryptoFactory extends DecryptionPropertiesFactory with EncryptionPropertiesFactory {
  override def getFileDecryptionProperties(conf: Configuration,
      path: Path): FileDecryptionProperties = {
    CountingCryptoFactory.asked.add(path.toUri.getPath)
    null
  }
  override def getFileEncryptionProperties(conf: Configuration, path: Path,
      context: WriteSupport.WriteContext): FileEncryptionProperties = null
}
object CountingCryptoFactory {
  val asked: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** `SnapTable.readKey`, the point read done on the driver: it returns what
  * the Spark read returns for the key, runs no job, compiles nothing, and
  * the table's parquet reads (lookups and commit footers) use the table's
  * Hadoop conf. */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  /** One epoch of a history: events (conv, turn, op, ts seconds or null),
    * written copy-on-write or as a delta, with a long `turn_idx` and an
    * added `note` column when asked. */
  private case class Step(events: Seq[(Int, Long, String, Option[Long])], mor: Boolean,
      widen: Boolean, note: Boolean)
  private case class History(enrich: Boolean, steps: Seq[Step])

  private val BigTurn = 3000000000L
  private val genEvent = for {
    c <- Gen.choose(0, 4)
    ti <- Gen.oneOf(0L, 1L, 2L, BigTurn)
    op <- Gen.frequency(3 -> "U", 2 -> "I", 2 -> "D")
    ts <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(0L, 4L).map(Some(_)))
  } yield (c, ti, op, ts)
  private val genStep = for {
    n <- Gen.choose(1, 12)
    events <- Gen.listOfN(n, genEvent)
    mor <- Gen.oneOf(false, true)
    widen <- Gen.prob(0.3)
    note <- Gen.prob(0.3)
  } yield Step(events.map { case e @ (_, ti, _, _) =>
      if (ti == BigTurn && !widen) e.copy(_2 = 2L) else e }, mor, widen, note)
  private val genHistory = for {
    enrich <- Gen.oneOf(false, true)
    k <- Gen.choose(1, 4)
    steps <- Gen.listOfN(k, genStep)
  } yield History(enrich, steps)

  /** The keys a history can write, plus one it never writes. */
  private val keys = (for (c <- 0 to 4; ti <- Seq(0L, 1L, 2L, BigTurn)) yield (s"c$c", ti)) :+
    (("c9", 0L))

  private def batch(step: Step, lsn0: Long): DataFrame = {
    val base = StructType(Schemas.envelopeV2.map(f => f.name match {
      case "turn_idx" if step.widen => f.copy(dataType = LongType)
      case "ts" => f.copy(nullable = true)
      case _ => f
    }))
    val schema = if (step.note) base.add("note", StringType) else base
    val rows = step.events.zipWithIndex.map { case ((c, ti, op, ts), i) =>
      val lsn = lsn0 + i
      val turn = if (step.widen) Long.box(ti) else Int.box(ti.toInt)
      val cells = Seq(s"c$c", turn, "user", s"t$lsn", null,
        ts.map(s => new java.sql.Timestamp(1000L * s)).orNull, lsn, op)
      Row.fromSeq(if (step.note) cells :+ s"n$lsn" else cells)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  test("readKey equals the filtered Spark read over random CoW and MoR histories") {
    var (present, deleted, absent) = (0, 0, 0)
    val prop = Prop.forAll(genHistory) { h =>
      val t = SnapTable.create(spark, tmpDir("pointprop"), Schemas.payloadV2, numBuckets = 4)
      val derived =
        if (h.enrich) CdcPipeline.enrichmentColumns else graft.table.Derived.none
      h.steps.zipWithIndex.foreach { case (s, e) =>
        val b = batch(s, 100L * (e + 1))
        if (s.mor) t.mergeDelta(b, e, derived) else t.merge(b, e, derived = derived)
      }
      val written = h.steps.flatMap(_.events.map(ev => (s"c${ev._1}", ev._2))).toSet
      val full = t.read(spark)
      val all = full.collect()
      keys.forall { case k @ (c, ti) =>
        val wanted = full.filter(col("conv_id") === c && col("turn_idx") === ti)
        val want = all.filter(r => r.getAs[String]("conv_id") == c &&
          r.getAs[Number]("turn_idx").longValue == ti).map(_.toSeq).toSeq
        val got = t.readKey(spark, c, ti)
        val rows = got.collect().map(_.toSeq).toSeq
        if (want.nonEmpty) present += 1 else if (written(k)) deleted += 1 else absent += 1
        val same = got.schema == wanted.schema &&
          rows.sortBy(_.toString) == want.sortBy(_.toString)
        if (!same) println(s"key $k of $h: readKey ${got.schema.simpleString} $rows, " +
          s"read ${wanted.schema.simpleString} $want")
        same
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(present > 0 && deleted > 0 && absent > 0, (present, deleted, absent))
  }

  test("a point read runs no Spark job and compiles no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = SnapTable.create(spark, tmpDir("pointjobs"), Schemas.payloadV2, numBuckets = 8)
    def ev(i: Int, turn: Int, lsn: Long, op: String) = graft.model.ChangeEvent(s"c$i", turn,
      "user", s"v$lsn", null, new java.sql.Timestamp(1000L + lsn), lsn, op)
    CdcPipeline.applyBatch(t, (for (i <- 1 to 20; turn <- 0 to 4) yield ev(i, turn,
      1000L + 10 * i + turn, "I")).toDF(), 0)
    // a delta over the base: the lookups reduce and drop tombstones
    CdcPipeline.applyBatch(t, Seq(ev(1, 1, 5001, "U"), ev(2, 2, 5002, "D")).toDF(), 1,
      graft.cdc.PipelineOptions(mergeMode = "mor"))
    // the first local frame of a schema compiles its row projections once
    t.readKey(spark, "c3", 0L).collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var got = Map.empty[(String, Long), Seq[String]]
    val n = jobs {
      for (i <- 1 to 3; turn <- 1 to 4) got += (s"c$i", turn.toLong) ->
        t.readKey(spark, s"c$i", turn.toLong).collect().map(_.getAs[String]("text")).toSeq
    }
    assert(n == 0, s"$n Spark jobs in 12 point reads")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "point reads compiled generated code")
    assert(got(("c1", 1L)) == Seq("v5001"))
    assert(got(("c2", 2L)).isEmpty)
    assert(got(("c3", 4L)) == Seq("v1034"))
  }

  test("commit footers are read with the table's Hadoop conf, on the driver and executors") {
    val key = "parquet.crypto.factory.class"
    spark.conf.set(key, classOf[CountingCryptoFactory].getName)
    try for (buckets <- Seq(4, 300)) {
      val t = SnapTable.create(spark, tmpDir("footerconf"), Schemas.payloadV2,
        numBuckets = buckets)
      CountingCryptoFactory.asked.clear()
      t.merge((1 to 3000).map(i => graft.model.ChangeEvent(s"c$i", i % 50, "user", s"t$i",
        null, new java.sql.Timestamp(1000L + i), i.toLong, "I")).toDF(), 0)
      val files = t.snapshot().files.map(f => new Path(t.root, f.path).toUri.getPath)
      // past 256 files the footers are read on the executors
      assert(if (buckets > 256) files.size > 256 else files.size <= 4)
      val unseen = files.filterNot(CountingCryptoFactory.asked.contains)
      assert(unseen.isEmpty, s"${unseen.size} of ${files.size} footers read without the conf")
    } finally spark.conf.unset(key)
  }
}
