package graft

import graft.cdc.DirtyLimitExceeded
import graft.job.Job
import graft.table.SnapTable
import org.apache.spark.sql.functions.lit

/**
 * Job-JSON entry-point conformance: the reference's shipped smoke-job shape
 * (streamreader -> streamwriter, core/src/main/job/job.json), a CSV ->
 * transformer-chain -> CSV job, and a changelog -> snapshot-table MERGE job,
 * all through `Job.run` with state transitions and hooks.
 */
class JobSpec extends SparkSpec {
  import spark.implicits._

  test("shipped smoke-job shape: streamreader -> streamwriter") {
    // Mirrors core/src/main/job/job.json: const columns, sliceRecordCount,
    // speed + errorLimit settings.
    val json =
      """{"job": {
        |  "setting": {
        |    "speed": {"byte": 10485760, "channel": 2},
        |    "errorLimit": {"record": 0, "percentage": 0.02}},
        |  "content": [{
        |    "reader": {"name": "streamreader", "parameter": {
        |      "column": [
        |        {"value": "DataX", "type": "string"},
        |        {"value": 19890604, "type": "long"},
        |        {"value": "1989-06-04 00:00:00", "type": "date"},
        |        {"value": true, "type": "bool"},
        |        {"value": "test", "type": "bytes"}],
        |      "sliceRecordCount": 1000}},
        |    "writer": {"name": "streamwriter", "parameter": {"print": false}}}]}}
        |""".stripMargin
    var hookCalls = 0
    val report = Job.run(spark, json, hooks = Seq(_ => hookCalls += 1))
    assert(report.states == Seq(Job.Submitting, Job.Running, Job.Succeeded))
    assert(report.rowsRead == 2000) // sliceRecordCount x 2 channels
    assert(report.rowsWritten == 2000)
    assert(report.error.isEmpty)
    assert(hookCalls == 1)
  }

  test("multi-content job runs every reader->writer lane and aggregates the report") {
    val out = tmpDir("multiout")
    val json =
      s"""{"job": {
         |  "setting": {"speed": {"channel": 1}},
         |  "content": [
         |    {"reader": {"name": "streamreader", "parameter": {
         |       "column": [{"value": "laneA", "type": "string", "name": "tag"}],
         |       "sliceRecordCount": 300}},
         |     "writer": {"name": "parquetwriter", "parameter": {"path": "$out/a"}}},
         |    {"reader": {"name": "streamreader", "parameter": {
         |       "column": [{"value": "laneB", "type": "string", "name": "tag"}],
         |       "sliceRecordCount": 200}},
         |     "writer": {"name": "parquetwriter", "parameter": {"path": "$out/b"}}}]}}
         |""".stripMargin
    assert(Job.preCheck(spark, json).isEmpty)
    val report = Job.run(spark, json)
    assert(report.error.isEmpty && report.states.last == Job.Succeeded)
    assert(report.rowsRead == 500 && report.rowsWritten == 500)
    assert(spark.read.parquet(s"$out/a").count() == 300)
    assert(spark.read.parquet(s"$out/b").count() == 200)
  }

  test("csv -> dx transformer chain -> csv job") {
    val in = tmpDir("jobin")
    val out = s"${tmpDir("jobout")}/result"
    Seq(("click", "useraaaa", 120), ("view", "userbbbb", 80), ("click", "usercccc", 45))
      .toDF("t", "u", "v").coalesce(1)
      .write.mode("overwrite").option("sep", ",").csv(s"$in/data")
    val json =
      s"""{"job": {
         |  "setting": {"errorLimit": {"record": 0}},
         |  "content": [{
         |    "reader": {"name": "txtfilereader", "parameter": {
         |      "path": "$in/data",
         |      "requiredColumns": ["event_type"],
         |      "column": [
         |        {"index": 0, "type": "string", "name": "event_type"},
         |        {"index": 1, "type": "string", "name": "user"},
         |        {"index": 2, "type": "long", "name": "value"}]}},
         |    "transformer": [
         |      {"name": "dx_filter", "parameter": {"columnName": "event_type",
         |        "paras": ["like", "view"]}},
         |      {"name": "dx_substr", "parameter": {"columnName": "user",
         |        "paras": ["0", "6"]}}],
         |    "writer": {"name": "txtfilewriter", "parameter": {
         |      "path": "$out", "writeMode": "truncate"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.rowsRead == 3)
    assert(report.rowsWritten == 2) // 'view' row dropped by dx_filter
    val back = spark.read.csv(out).as[(String, String, String)].collect().toSet
    assert(back == Set(("click", "useraa", "120"), ("click", "usercc", "45")))
  }

  test("hdfsreader lane: fileType auto sniffs ORC; seq reads sequence files") {
    val in = tmpDir("hdfsin")
    val out = s"${tmpDir("hdfsout")}/result"
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("k", "v")
      .coalesce(1).write.orc(s"$in/orc")
    val json =
      s"""{"job": {"content": [{
         |  "reader": {"name": "hdfsreader", "parameter": {
         |    "path": "$in/orc",
         |    "column": [
         |      {"index": 0, "type": "long", "name": "k"},
         |      {"index": 1, "type": "string", "name": "v"}]}},
         |  "writer": {"name": "parquetwriter", "parameter": {
         |    "path": "$out", "writeMode": "truncate"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.rowsWritten == 3)
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")))

    // explicit fileType seq over a sequence file written by the test
    val p = new org.apache.hadoop.fs.Path(s"$in/seq/part-0.seq")
    val w = org.apache.hadoop.io.SequenceFile.createWriter(
      spark.sparkContext.hadoopConfiguration,
      org.apache.hadoop.io.SequenceFile.Writer.file(p),
      org.apache.hadoop.io.SequenceFile.Writer.keyClass(classOf[org.apache.hadoop.io.LongWritable]),
      org.apache.hadoop.io.SequenceFile.Writer.valueClass(classOf[org.apache.hadoop.io.Text]))
    w.append(new org.apache.hadoop.io.LongWritable(0L), new org.apache.hadoop.io.Text("7,seven"))
    w.close()
    val json2 =
      s"""{"job": {"content": [{
         |  "reader": {"name": "hdfsreader", "parameter": {
         |    "path": "$in/seq", "fileType": "seq",
         |    "column": [
         |      {"index": 0, "type": "long", "name": "k"},
         |      {"index": 1, "type": "string", "name": "v"}]}},
         |  "writer": {"name": "parquetwriter", "parameter": {
         |    "path": "$out", "writeMode": "truncate"}}}]}}
         |""".stripMargin
    val report2 = Job.run(spark, json2)
    assert(report2.error.isEmpty, report2.error)
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSeq == Seq((7L, "seven")))
  }

  test("changelog -> snaptable MERGE job (upsert writer)") {
    import graft.gen.{ChangeStreamGen, GenConfig}
    val log = tmpDir("joblog")
    val table = s"${tmpDir("jobtable")}/t"
    val cfg = GenConfig(numEvents = 5000, numConvs = 100, chunks = 3)
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val json =
      s"""{"job": {
         |  "setting": {"errorLimit": {"percentage": 0.02}},
         |  "content": [{
         |    "reader": {"name": "changelogreader", "parameter": {"path": "$log"}},
         |    "writer": {"name": "snaptablewriter", "parameter": {
         |      "path": "$table", "buckets": 8}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.states.last == Job.Succeeded)
    val t = SnapTable.load(spark, table)
    val expected = graft.oracle.OracleReducer.reduce(
      ChangeStreamGen.events(spark, cfg).drop("pos")
        .as[graft.model.ChangeEvent].collect().toSeq)
    val got = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected.map(e => (e.conv_id, e.turn_idx, e.text)))
  }

  test("dirtyreader replays quarantined rows: fix -> re-merge lands them") {
    import graft.cdc.{CdcPipeline, ErrorLimit, PipelineOptions}
    import graft.model.{ChangeEvent, Schemas}
    import org.apache.spark.sql.functions.col
    val root = tmpDir("table")
    val t = SnapTable.create(spark, root, Schemas.payloadV2, numBuckets = 8)
    def ev(i: Int, lsn: Long, op: String) = ChangeEvent(s"c$i", 1, "user", s"v$lsn", null,
      new java.sql.Timestamp(1000L + lsn), lsn, op)
    // 3 rows with an op outside the domain are quarantined, 20 land
    val batch = (1 to 20).map(i => ev(i, 100 + i, "I")) ++
      (21 to 23).map(i => ev(i, 100 + i, "X"))
    CdcPipeline.applyBatch(t, batch.toDF(), 0,
      PipelineOptions(errorLimit = ErrorLimit(record = Some(10), percentage = None)))
    assert(t.read(spark).count() == 20)
    // the fix: rewrite the bad op, drop the reason column, merge back
    val json =
      s"""{"job": {"content": [{
         |  "reader": {"name": "dirtyreader", "parameter": {"path": "$root", "epoch": 0}},
         |  "transformer": [{"name": "dx_script", "parameter": {"paras": [
         |    "df.withColumn(\\"op\\", lit(\\"I\\")).drop(\\"__dirty_reason\\")"]}}],
         |  "writer": {"name": "snaptablewriter", "parameter": {"path": "$root"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.rowsRead == 3)
    assert(t.read(spark).count() == 23)
    assert(t.read(spark).filter(col("conv_id") === "c22").count() == 1)
  }

  test("dx_script: user Scala snippet compiled at runtime (dx_groovy parity)") {
    val json =
      """{"job": {"content": [{
        |  "reader": {"name": "streamreader", "parameter": {
        |    "column": [{"random": "1,100", "type": "long", "name": "v"}],
        |    "sliceRecordCount": 500}},
        |  "transformer": [{"name": "dx_script", "parameter": {"paras": [
        |    "df.withColumn(\"v2\", col(\"v\") * 2).filter(col(\"v\") <= 50)"]}}],
        |  "writer": {"name": "streamwriter", "parameter": {}}}]}}""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.rowsRead == 500)
    assert(report.rowsWritten > 0 && report.rowsWritten < 500,
      s"script filter must drop some rows, wrote ${report.rowsWritten}")
  }

  test("dx_map: multi-column transform with a tContext map (ComplexTransformer)") {
    val in = tmpDir("mapin")
    val out = s"${tmpDir("mapout")}/result"
    Seq(("alice", "hello", 2L), ("bob", "world", 3L)).toDF("u", "w", "n")
      .coalesce(1).write.parquet(s"$in/data")
    // code reads TWO columns and the context map at once — out of reach of
    // the single-column dx_* natives
    val json =
      s"""{"job": {"content": [{
         |  "reader": {"name": "parquetreader", "parameter": {"path": "$in/data"}},
         |  "transformer": [{"name": "dx_map", "parameter": {
         |    "context": {"sep": "::", "tag": "T9"},
         |    "code": "df.withColumn(\\"joined\\", concat_ws(ctx(\\"sep\\"), col(\\"u\\"), col(\\"w\\"), lit(ctx(\\"tag\\"))))"}}],
         |  "writer": {"name": "parquetwriter", "parameter": {
         |    "path": "$out", "writeMode": "truncate"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    val got = spark.read.parquet(out).select("joined").as[String].collect().toSet
    assert(got == Set("alice::hello::T9", "bob::world::T9"))
  }

  test("transform registry: user names resolve, dx_ namespace is reserved") {
    import graft.functions.TransformRegistry
    TransformRegistry.register("audit_stamp", (df, ctx) =>
      df.withColumn("audit", lit(ctx.getOrElse("who", "unknown"))))
    try {
      // duplicate and reserved-namespace registrations are rejected
      intercept[IllegalArgumentException] {
        TransformRegistry.register("audit_stamp", (df, _) => df)
      }
      intercept[IllegalArgumentException] {
        TransformRegistry.register("dx_evil", (df, _) => df)
      }
      val in = tmpDir("regin")
      val out = s"${tmpDir("regout")}/result"
      Seq(("a", 1L)).toDF("k", "v").coalesce(1).write.parquet(s"$in/data")
      val json =
        s"""{"job": {"content": [{
           |  "reader": {"name": "parquetreader", "parameter": {"path": "$in/data"}},
           |  "transformer": [{"name": "audit_stamp", "parameter": {
           |    "context": {"who": "job-77"}}}],
           |  "writer": {"name": "parquetwriter", "parameter": {
           |    "path": "$out", "writeMode": "truncate"}}}]}}
           |""".stripMargin
      val report = Job.run(spark, json)
      assert(report.error.isEmpty, report.error)
      assert(spark.read.parquet(out).select("audit").as[String].collect().toSeq == Seq("job-77"))
      // unknown name still fails with the supported list
      val bad = json.replace("audit_stamp", "no_such_fn")
      val failed = Job.run(spark, bad)
      assert(failed.error.exists(_.contains("unknown transformer")), failed.error)
    } finally TransformRegistry.unregister("audit_stamp")
  }

  test("failed job reports Failed state and the error through hooks") {
    val json = """{"job": {"content": [{
      |"reader": {"name": "nosuchreader", "parameter": {}},
      |"writer": {"name": "streamwriter", "parameter": {}}}]}}""".stripMargin
    var reported: Option[Job.Report] = None
    val report = Job.run(spark, json, hooks = Seq(r => reported = Some(r)))
    assert(report.states.last == Job.Failed)
    assert(report.error.exists(_.contains("nosuchreader")))
    assert(reported.contains(report))
  }

  test("preCheck dry-run validates without moving data; secrets are masked") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // valid job -> no findings
    val ok =
      """{"job": {"content": [{
        |  "reader": {"name": "streamreader", "parameter": {
        |    "column": [{"value": "x", "type": "string"}], "sliceRecordCount": 10}},
        |  "writer": {"name": "streamwriter", "parameter": {}}}]}}""".stripMargin
    assert(Job.preCheck(spark, ok).isEmpty)
    // broken reader path + unknown writer -> findings, no exception
    val bad =
      """{"job": {"content": [{
        |  "reader": {"name": "txtfilereader", "parameter": {
        |    "path": "/nonexistent/nowhere", "column": [{"index": 0, "type": "string"}]}},
        |  "writer": {"name": "nosuchwriter", "parameter": {}}}]}}""".stripMargin
    val problems = Job.preCheck(spark, bad)
    assert(problems.exists(_.startsWith("reader")), problems)
    assert(problems.exists(_.contains("nosuchwriter")), problems)
    // secret masking for config echo
    val masked = Job.maskSecrets(JsonMethods.parse(
      """{"parameter": {"username": "u", "password": "hunter2",
        |  "nested": {"accessKeySecret": "abc"}, "port": 3306}}""".stripMargin))
    val s = JsonMethods.compact(masked)
    assert(!s.contains("hunter2") && !s.contains("abc"))
    assert(s.contains("\"u\"") && s.contains("3306"))
  }

  test("errorLimit gate fails the job on dirty overflow") {
    val in = tmpDir("dirtyin")
    Seq(("a", "1"), (null: String, "2"), (null: String, "3"))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").csv(s"$in/data")
    val json =
      s"""{"job": {
         |  "setting": {"errorLimit": {"record": 0}},
         |  "content": [{
         |    "reader": {"name": "txtfilereader", "parameter": {
         |      "path": "$in/data", "requiredColumns": ["k"],
         |      "column": [
         |        {"index": 0, "type": "string", "name": "k"},
         |        {"index": 1, "type": "long", "name": "v"}]}},
         |    "writer": {"name": "streamwriter", "parameter": {}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.states.last == Job.Failed)
    assert(report.error.exists(_.contains("errorLimit")))
  }

  test("single-pass accounting: a gate-free lane scans its source once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val src = tmpDir("onceread")
    val out = tmpDir("oncewrite")
    (1 to 500).map(i => (s"k$i", i.toLong)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$src/data")
    // count SQL executions whose physical plan touches THIS lane's source
    // path — immune to concurrent suites sharing the session
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains(src) => seen.incrementAndGet(): Unit
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val json =
        s"""{"job": {
           |  "setting": {},
           |  "content": [{
           |    "reader": {"name": "parquetreader", "parameter": {"path": "$src/data"}},
           |    "writer": {"name": "parquetwriter", "parameter": {"path": "$out/data"}}}]}}
           |""".stripMargin
      val report = Job.run(spark, json)
      assert(report.error.isEmpty, report.error)
      assert(report.rowsRead == 500 && report.rowsWritten == 500)
      // listener delivery is async: poll until the count is stable
      var stable = 0
      var last = -1
      while (stable < 5) {
        Thread.sleep(200)
        val now = seen.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(seen.get() == 1,
        s"expected ONE source-scanning SQL execution (the sink's), saw ${seen.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("speed.record cap slices the lane into bounded epoch commits") {
    import graft.gen.{ChangeStreamGen, GenConfig}
    val log = tmpDir("caplog")
    val table = s"${tmpDir("captable")}/t"
    val cfg = GenConfig(numEvents = 1000, numConvs = 50, chunks = 1)
    ChangeStreamGen.writeChangelog(spark, cfg, log)
    val json =
      s"""{"job": {
         |  "setting": {"speed": {"record": 250}, "errorLimit": {"percentage": 0.02}},
         |  "content": [{
         |    "reader": {"name": "changelogreader", "parameter": {"path": "$log"}},
         |    "writer": {"name": "snaptablewriter", "parameter": {
         |      "path": "$table", "buckets": 8}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    val t = SnapTable.load(spark, table)
    // exactly ceil(rows / cap) bounded commits, each its own epoch (the
    // changelog carries duplicate-delivery rows on top of the 1000 events)
    val epochs = (report.rowsRead + 249) / 250
    assert(epochs >= 4, s"cap not exercised: rowsRead=${report.rowsRead}")
    assert(t.committedEpoch == epochs - 1,
      s"epoch=${t.committedEpoch} rowsRead=${report.rowsRead}")
    assert(t.history == (0L to epochs))
    // final state is identical to an uncapped replay
    val expected = graft.oracle.OracleReducer.reduce(
      ChangeStreamGen.events(spark, cfg).drop("pos")
        .as[graft.model.ChangeEvent].collect().toSeq)
    val got = t.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected.map(e => (e.conv_id, e.turn_idx, e.text)))
  }

  test("jdbc reader -> transformer -> jdbc writer job (the reference's core shape)") {
    // seed the source database
    val c = java.sql.DriverManager.getConnection("jdbc:derby:memory:jobsrc;create=true")
    c.createStatement().execute(
      "CREATE TABLE src (id BIGINT, name VARCHAR(32), score INT)")
    val ins = c.prepareStatement("INSERT INTO src VALUES (?, ?, ?)")
    for (i <- 1 to 200) { ins.setLong(1, i); ins.setString(2, f"name$i%03d")
      ins.setInt(3, i % 7); ins.executeUpdate() }
    c.createStatement().execute(
      "CREATE TABLE dst (id BIGINT, name VARCHAR(40), score INT)")
    c.close()
    val json =
      """{"job": {
        |  "setting": {"speed": {"channel": 4}},
        |  "content": [{
        |    "reader": {"name": "derbyreader", "parameter": {
        |      "username": "app", "password": "app",
        |      "connection": [{"jdbcUrl": ["jdbc:derby:memory:jobsrc"],
        |                      "table": ["src"]}],
        |      "column": ["id", "name", "score"], "splitPk": "id",
        |      "where": "score <> 3"}},
        |    "transformer": [{"name": "dx_pad", "parameter": {
        |      "columnName": "name", "paras": ["r", "10", "_"]}}],
        |    "writer": {"name": "derbywriter", "parameter": {
        |      "username": "app", "password": "app", "writeMode": "insert",
        |      "connection": [{"jdbcUrl": "jdbc:derby:memory:jobsrc",
        |                      "table": ["dst"]}],
        |      "preSql": ["DELETE FROM dst"]}}}]}}
        |""".stripMargin
    // preCheck validates both JDBC ends without moving rows: connectivity,
    // table visibility, writeMode parse
    assert(Job.preCheck(spark, json).isEmpty, Job.preCheck(spark, json))
    assert(Job.preCheck(spark,
        json.replace("\"table\": [\"dst\"]", "\"table\": [\"no_such\"]"))
      .exists(_.toLowerCase.contains("no_such")), "missing target must fail preCheck")
    assert(Job.preCheck(spark,
        json.replace("\"writeMode\": \"insert\"", "\"writeMode\": \"bogus\""))
      .nonEmpty, "bad writeMode must fail preCheck")
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(report.states.last == Job.Succeeded)
    // 200 rows minus the score=3 ones (ids 3,10,17,... = 28 rows)
    val expected = (1 to 200).count(_ % 7 != 3)
    assert(report.rowsRead == expected && report.rowsWritten == expected,
      s"read=${report.rowsRead} written=${report.rowsWritten} expected=$expected")
    val c2 = java.sql.DriverManager.getConnection("jdbc:derby:memory:jobsrc")
    val rs = c2.createStatement().executeQuery(
      "SELECT COUNT(*), MIN(LENGTH(name)), MAX(LENGTH(name)) FROM dst")
    rs.next()
    assert(rs.getInt(1) == expected)
    assert(rs.getInt(2) == 10 && rs.getInt(3) == 10, "dx_pad to width 10 must apply")
    val rs2 = c2.createStatement().executeQuery("SELECT COUNT(*) FROM dst WHERE score = 3")
    rs2.next(); assert(rs2.getInt(1) == 0, "where must push into the slices")
    c2.close()
  }

  test("jdbc reader splits on a VARCHAR pk through the radix-128 planner") {
    val c = java.sql.DriverManager.getConnection("jdbc:derby:memory:jobstr;create=true")
    c.createStatement().execute("CREATE TABLE s1 (code VARCHAR(12), n INT)")
    val ins = c.prepareStatement("INSERT INTO s1 VALUES (?, ?)")
    val rnd = new scala.util.Random(17)
    for (i <- 1 to 150) {
      ins.setString(1, rnd.alphanumeric.take(6).mkString); ins.setInt(2, i)
      ins.executeUpdate()
    }
    c.close()
    val out = s"${tmpDir("jdbcstr")}/res"
    val json =
      s"""{"job": {
         |  "setting": {"speed": {"channel": 4}},
         |  "content": [{
         |    "reader": {"name": "rdbmsreader", "parameter": {
         |      "connection": [{"jdbcUrl": ["jdbc:derby:memory:jobstr"],
         |                      "table": ["s1"]}],
         |      "splitPk": "code"}},
         |    "writer": {"name": "parquetwriter", "parameter": {"path": "$out"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    // every row read exactly once across the string slices
    assert(report.rowsRead == 150 && report.rowsWritten == 150,
      s"read=${report.rowsRead} written=${report.rowsWritten}")
    val got = spark.read.parquet(out)
    assert(got.count() == 150 && got.select("N").as[Int].collect().sum == (1 to 150).sum)
  }

  test("jdbc reader querySql mode unions user statements verbatim") {
    val c = java.sql.DriverManager.getConnection("jdbc:derby:memory:jobq;create=true")
    c.createStatement().execute("CREATE TABLE q1 (id BIGINT, v VARCHAR(8))")
    c.createStatement().execute("INSERT INTO q1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    c.close()
    val out = s"${tmpDir("jdbcq")}/res"
    val json =
      s"""{"job": {
         |  "setting": {"speed": {"channel": 1}},
         |  "content": [{
         |    "reader": {"name": "rdbmsreader", "parameter": {
         |      "connection": [{"jdbcUrl": ["jdbc:derby:memory:jobq"]}],
         |      "querySql": ["SELECT id, v FROM q1 WHERE id <= 2",
         |                   "SELECT id, v FROM q1 WHERE id > 2"]}},
         |    "writer": {"name": "parquetwriter", "parameter": {"path": "$out"}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.error.isEmpty, report.error)
    assert(spark.read.parquet(out).count() == 3)
  }

  /** A job from a one-row streamreader into writer `name`, with one
    * parameter object every writer kind accepts: a fresh `path` for the
    * file and table writers, a Derby target for the JDBC ones. */
  private def anyWriterJob(name: String, db: String): String = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
    try c.createStatement().execute("CREATE TABLE w (v VARCHAR(8))")
    catch { case _: java.sql.SQLException => () } // made by an earlier call
    finally c.close()
    s"""{"job": {"content": [{
       |  "reader": {"name": "streamreader", "parameter": {
       |    "column": [{"value": "x", "type": "string", "name": "v"}], "sliceRecordCount": 1}},
       |  "writer": {"name": "$name", "parameter": {
       |    "path": "${tmpDir("anywriter")}/out",
       |    "connection": [{"jdbcUrl": "jdbc:derby:memory:$db", "table": ["w"]}]}}}]}}
       |""".stripMargin
  }

  test("preCheck accepts a drdswriter job") {
    val problems = Job.preCheck(spark, anyWriterJob("drdswriter", "drdspre"))
    assert(problems.isEmpty, problems)
  }

  test("preCheck accepts every writer name that run accepts") {
    // the documented writer names, aliases included
    assert(Job.writers.keySet == Set("streamwriter", "txtfilewriter", "csvwriter",
      "parquetwriter", "orcwriter", "snaptablewriter", "drdswriter", "adswriter",
      "rdbmswriter", "jdbcwriter", "mysqlwriter", "oraclewriter", "postgresqlwriter",
      "sqlserverwriter", "derbywriter"))
    for (name <- Job.writers.keys) {
      val problems = Job.preCheck(spark, anyWriterJob(name, "everywriter"))
      assert(problems.isEmpty, s"$name: $problems")
    }
    val unknown = anyWriterJob("nosuchwriter", "everywriter")
    assert(Job.preCheck(spark, unknown) == Seq("writer: unknown writer 'nosuchwriter'"))
    assert(Job.run(spark, unknown).error.contains("unknown writer 'nosuchwriter'"))
  }

  test("rows a JDBC writer rejects are dirty rows under the job's errorLimit") {
    val (path, out) = (tmpDir("jdbcdirty"), "jdbc:derby:memory:jobdirty")
    (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
      .write.parquet(s"$path/src")
    val c = java.sql.DriverManager.getConnection(s"$out;create=true")
    c.createStatement().execute("CREATE TABLE dst (id BIGINT PRIMARY KEY, name VARCHAR(8))")
    c.close()
    // keys 1..3 are already in the target, so plain inserts reject them
    def job(limit: Long) =
      s"""{"job": {
         |  "setting": {"errorLimit": {"record": $limit}},
         |  "content": [{
         |    "reader": {"name": "parquetreader", "parameter": {"path": "$path/src"}},
         |    "writer": {"name": "derbywriter", "parameter": {
         |      "writeMode": "insert",
         |      "connection": [{"jdbcUrl": "$out", "table": ["dst"]}],
         |      "preSql": ["DELETE FROM dst",
         |        "INSERT INTO dst VALUES (1, 'old'), (2, 'old'), (3, 'old')"]}}}]}}
         |""".stripMargin
    val ok = Job.run(spark, job(limit = 3))
    assert(ok.error.isEmpty, ok.error)
    assert((ok.rowsRead, ok.rowsWritten, ok.rowsDirty) == (10L, 7L, 3L))
    val failed = Job.run(spark, job(limit = 0))
    assert(failed.states.last == Job.Failed)
    assert(failed.error.exists(_.contains("dirty records 3 exceed errorLimit.record=0")),
      failed.error)
  }

  test("snaptablewriter gates its chunk under the job's errorLimit, before the commit") {
    import graft.model.ChangeEvent
    val src = s"${tmpDir("snapdirty")}/src"
    val table = s"${tmpDir("snapdirty")}/t"
    // one event with an op outside the domain among 100: 1% dirty, under
    // the pipeline's default 2% but over the job's record limit
    ((1 to 99).map(i => ChangeEvent(s"c$i", 1, "user", s"v$i", null,
        new java.sql.Timestamp(1000L + i), i.toLong, "I")) :+
      ChangeEvent("c100", 1, "user", "bad", null, new java.sql.Timestamp(1100L), 100L, "X"))
      .toDF().write.parquet(src)
    val json =
      s"""{"job": {
         |  "setting": {"errorLimit": {"record": 0}},
         |  "content": [{
         |    "reader": {"name": "parquetreader", "parameter": {"path": "$src"}},
         |    "writer": {"name": "snaptablewriter", "parameter": {
         |      "path": "$table", "buckets": 4}}}]}}
         |""".stripMargin
    val report = Job.run(spark, json)
    assert(report.states.last == Job.Failed)
    assert(report.error.exists(_.contains("errorLimit.record=0")), report.error)
    val t = SnapTable.load(spark, table)
    assert(t.currentVersion == 0 && t.committedEpoch == -1, "no epoch may commit")
  }
}
