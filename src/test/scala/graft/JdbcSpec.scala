package graft

import graft.sources.{JdbcDialect, JdbcSplit, JdbcWrite}
import org.scalatest.funsuite.AnyFunSuite

import java.sql.{Connection, DriverManager}
import scala.util.Random

/**
 * JDBC split-planner property tests (pure logic, DB-free) plus a REAL
 * spark.read.jdbc / writePartition round-trip against embedded Derby (the
 * only JDBC engine in this sandbox).
 */
class JdbcSpec extends SparkSpec {

  // ---- splitBigInt properties ----------------------------------------------

  test("integer split covers the range exactly: no gap, no overlap, balanced") {
    val rnd = new Random(7)
    for (_ <- 1 to 200) {
      val min = BigInt(rnd.nextInt(1000) - 500)
      val span = BigInt(rnd.nextInt(100000) + 1)
      val max = min + span - 1
      val slices = rnd.nextInt(64) + 1
      val b = JdbcSplit.splitBigInt(min, max, slices)
      assert(b.head == min && b.last == max)
      assert(b == b.sorted && b.distinct == b, s"boundaries not strictly ascending: $b")
      // range i = [b(i), b(i+1)) except last = [b(n-1), max]; sizes differ <= 1
      val sizes = b.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
        if (i == b.size - 2) hi - lo + 1 else hi - lo
      }.toSeq
      assert(sizes.sum == span, s"sizes $sizes must sum to $span")
      assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes")
      // deterministic
      assert(JdbcSplit.splitBigInt(min, max, slices) == b)
    }
  }

  test("integer slices partition every value exactly once, nulls routed to the null slice") {
    val slices = JdbcSplit.integerSlices("pk", BigInt(-10), BigInt(1000), 7)
    def matches(v: Option[BigInt]): Seq[JdbcSplit.Slice] = slices.filter { s =>
      v match {
        case None => s.isNullSlice
        case Some(x) =>
          !s.isNullSlice &&
            s.lo.forall(l => x >= BigInt(l)) &&
            s.hi.forall(h => if (s.hiInclusive) x <= BigInt(h) else x < BigInt(h))
      }
    }
    for (v <- -10 to 1000)
      assert(matches(Some(BigInt(v))).size == 1, s"value $v must match exactly one slice")
    assert(matches(None).size == 1)
    assert(slices.count(_.isNullSlice) == 1)
    assert(slices.last.toSql == "pk IS NULL")
  }

  test("string radix-128 embedding is order-preserving and invertible") {
    val rnd = new Random(11)
    val strs = Seq("", "a", "ab", "abc", "b", "zz", "A1", "~~~") ++
      (1 to 100).map(_ => rnd.alphanumeric.take(rnd.nextInt(8)).mkString)
    val len = strs.map(_.length).max
    val pairs = strs.map(s => (s, JdbcSplit.stringToBig(s, len)))
    for (Seq((s1, v1), (s2, v2)) <- pairs.sortBy(_._1).sliding(2))
      assert(v1 <= v2, s"'$s1' < '$s2' but $v1 > $v2")
    for ((s, v) <- pairs)
      assert(JdbcSplit.bigToString(v, len) == s, s"round-trip failed for '$s'")
  }

  test("string slices partition random strings in-range exactly once") {
    val rnd = new Random(13)
    val minS = "aaa"
    val maxS = "zzzzz"
    val slices = JdbcSplit.stringSlices("name", minS, maxS, 9)
    assert(slices.count(!_.isNullSlice) >= 2)
    def hits(x: String): Int = slices.count { s =>
      !s.isNullSlice &&
        s.lo.forall(l => x >= l) &&
        s.hi.forall(h => if (s.hiInclusive) x <= h else x < h)
    }
    val samples = Seq(minS, maxS, "mmm", "aab", "zzzzy") ++
      (1 to 300).map { _ =>
        val n = rnd.nextInt(5) + 1
        (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }.filter(s => s >= minS && s <= maxS)
    samples.foreach(s => assert(hits(s) == 1, s"'$s' matched ${hits(s)} slices"))
  }

  test("sampled split covers below, between and above the quantile points") {
    val slices = JdbcSplit.sampledSlices("pk", Seq("10", "20", "30"), quoted = false)
    assert(slices.map(_.toSql) == Seq(
      "pk < 10", "pk >= 10 AND pk < 20", "pk >= 20 AND pk < 30", "pk >= 30", "pk IS NULL"))
  }

  test("sampled split orders mixed-width numeric points numerically, not lexicographically") {
    // "1000" < "500" as strings: a lexicographic sort yields overlapping
    // slices that read rows 500..1499 twice
    val slices = JdbcSplit.sampledSlices("pk", Seq("500", "1000", "1500"), quoted = false)
    assert(slices.map(_.toSql) == Seq(
      "pk < 500", "pk >= 500 AND pk < 1000", "pk >= 1000 AND pk < 1500",
      "pk >= 1500", "pk IS NULL"))
    // every value matches exactly one slice (no gap, no overlap)
    for (v <- Seq(0, 499, 500, 999, 1000, 1499, 1500, 9999)) {
      val hits = slices.count(s => !s.isNullSlice && {
        val lo = s.lo.forall(l => v >= l.toInt)
        val hi = s.hi.forall(h => if (s.hiInclusive) v <= h.toInt else v < h.toInt)
        lo && hi
      })
      assert(hits == 1, s"$v matched $hits slices")
    }
  }

  test("shard-table pattern expansion and table-mode slice multiplier") {
    assert(JdbcSplit.expandTables("orders_[00-03]") ==
      Seq("orders_00", "orders_01", "orders_02", "orders_03"))
    assert(JdbcSplit.expandTables("orders_[8-11]_x") ==
      Seq("orders_8_x", "orders_9_x", "orders_10_x", "orders_11_x"))
    assert(JdbcSplit.expandTables("plain_table") == Seq("plain_table"))
    assert(JdbcSplit.adviceSliceCount(4, tableMode = true) == 20)
    assert(JdbcSplit.adviceSliceCount(4, tableMode = false) == 4)
  }

  test("writeMode templates match the reference's insert/replace/update SQL") {
    val cols = Seq("id", "name")
    assert(JdbcWrite.template(JdbcWrite.Insert, "t", cols) ==
      "INSERT INTO t (id, name) VALUES (?, ?)")
    assert(JdbcWrite.template(JdbcWrite.Replace, "t", cols) ==
      "REPLACE INTO t (id, name) VALUES (?, ?)")
    assert(JdbcWrite.template(JdbcWrite.Update, "t", cols) ==
      "INSERT INTO t (id, name) VALUES (?, ?) " +
        "ON DUPLICATE KEY UPDATE id = VALUES(id), name = VALUES(name)")
    assert(JdbcWrite.parseMode("REPLACE") == JdbcWrite.Replace)
  }

  // ---- dialect layer (generated SQL/properties, DB-free) -------------------

  test("dialect resolution, quoting, fetch size and URL suffixes") {
    import JdbcDialect._
    assert(of("jdbc:mysql://h:3306/db") == MySql)
    assert(of("jdbc:oracle:thin:@h:1521:orcl") == Oracle)
    assert(of("jdbc:postgresql://h/db") == PostgreSql)
    assert(of("jdbc:sqlserver://h;database=db") == SqlServer)
    assert(of("jdbc:derby:memory:x") == Derby)
    assert(of("jdbc:unknownthing://x") == Generic)
    assert(of("mysql") == MySql)
    // MySQL streams rows: the configured fetchSize is OVERRIDDEN with
    // Integer.MIN_VALUE (reference MysqlReader.java:29-35)
    assert(MySql.readerFetchSize(Some(5000)) == Integer.MIN_VALUE)
    assert(Derby.readerFetchSize(Some(5000)) == 5000)
    assert(Derby.readerFetchSize(None) == 32)
    // identifier quoting per family (reference DataBaseType.quoteColumnName)
    assert(MySql.quoteColumn("a`b") == "`a``b`")
    assert(SqlServer.quoteColumn("c") == "[c]")
    // pass-through families (quoting would break case-folded identifiers)
    assert(Derby.quoteColumn("c") == "c")
    assert(Oracle.quoteColumn("c") == "c")
    // MySQL URL suffix (reference appendJDBCSuffixForReader/Writer)
    assert(MySql.readerUrl("jdbc:mysql://h/db") ==
      "jdbc:mysql://h/db?yearIsDateType=false&zeroDateTimeBehavior=convertToNull" +
        "&tinyInt1isBit=false&rewriteBatchedStatements=true")
    assert(MySql.readerUrl("jdbc:mysql://h/db?a=1").startsWith("jdbc:mysql://h/db?a=1&"))
    assert(Oracle.readerUrl("jdbc:oracle:thin:@h") == "jdbc:oracle:thin:@h")
    val props = readerProps(MySql, "u", "p")
    assert(props.getProperty("fetchsize") == Integer.MIN_VALUE.toString)
  }

  test("dialect range and Oracle SAMPLE split SQL match the reference's shapes") {
    import JdbcDialect._
    assert(Generic.pkRangeSql("id", "t", None) == "SELECT MIN(id),MAX(id) FROM t")
    assert(MySql.pkRangeSql("id", "t", Some("x > 0")) ==
      "SELECT MIN(`id`),MAX(`id`) FROM `t` WHERE (x > 0 AND `id` IS NOT NULL)")
    // Oracle sampled split (reference SingleTableSplitUtil.java:309-312)
    assert(Oracle.sampledSplitSql("id", "t", None, 0.1, 8).contains(
      "SELECT * FROM ( SELECT id FROM t SAMPLE (0.1) WHERE (id IS NOT NULL) " +
        "ORDER BY DBMS_RANDOM.VALUE) WHERE ROWNUM <= 8 ORDER by id ASC"))
    assert(Oracle.sampledSplitSql("id", "t", Some("c=1"), 0.5, 4).contains(
      "SELECT * FROM ( SELECT id FROM t SAMPLE (0.5) WHERE (id IS NOT NULL) AND (c=1) " +
        "ORDER BY DBMS_RANDOM.VALUE) WHERE ROWNUM <= 4 ORDER by id ASC"))
    // MySQL has no sampling path: MIN/MAX slicing is the strategy
    assert(MySql.sampledSplitSql("id", "t", None, 0.1, 8).isEmpty)
    // the sampled points flow into the planner's sampled slices
    val slices = JdbcSplit.sampledSlices("id", Seq("10", "20", "30"), quoted = false)
    assert(slices.map(_.toSql) == Seq("id < 10", "id >= 10 AND id < 20",
      "id >= 20 AND id < 30", "id >= 30", "id IS NULL"))
  }

  // ---- embedded-Derby round trips ------------------------------------------

  private def derby(db: String): Connection =
    DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")

  test("spark.read.jdbc with planned predicates reads every row exactly once") {
    val conn = derby("readdb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE people (pk INT, name VARCHAR(32))")
    val ins = conn.prepareStatement("INSERT INTO people VALUES (?, ?)")
    val rnd = new Random(3)
    val n = 1000
    for (i <- 1 to n) {
      if (i % 97 == 0) ins.setNull(1, java.sql.Types.INTEGER) else ins.setInt(1, rnd.nextInt(100000))
      ins.setString(2, s"name$i"); ins.executeUpdate()
    }
    conn.close()

    val url = "jdbc:derby:memory:readdb"
    val dialect = JdbcDialect.of(url)
    assert(dialect == JdbcDialect.Derby)
    val props = JdbcDialect.readerProps(dialect, "app", "app")
    // split plan from the dialect's MIN/MAX range SQL (the reference's
    // SELECT MIN(pk),MAX(pk) probe)
    val c2 = derby("readdb")
    val rs = c2.createStatement().executeQuery(
      dialect.pkRangeSql("pk", "people", where = None))
    rs.next()
    val (mn, mx) = (BigInt(rs.getInt(1)), BigInt(rs.getInt(2)))
    c2.close()
    val preds = JdbcSplit.integerSlices("pk", mn, mx, 8).map(_.toSql).toArray
    val df = spark.read.jdbc(url, "people", preds, props)
    assert(df.rdd.getNumPartitions == preds.length, "one partition per slice")
    assert(df.count() == n, "every row read exactly once (incl. NULL pk slice)")
  }

  test("batched write commits good batches and replays offenders to dirty") {
    val conn = derby("writedb")
    conn.createStatement().execute(
      "CREATE TABLE sink (pk INT PRIMARY KEY, name VARCHAR(32))")
    import org.apache.spark.sql.Row
    // 50 unique + 3 duplicate-pk offenders scattered across batches
    val rows = ((1 to 50).map(i => Row(i, s"n$i")) ++
      Seq(Row(5, "dup"), Row(17, "dup"), Row(42, "dup"))).iterator
    var dirty = List.empty[Int]
    val res = JdbcWrite.writePartition(conn,
      "INSERT INTO sink (pk, name) VALUES (?, ?)", rows, batchSize = 16,
      onDirty = (r, _) => dirty ::= r.getInt(0))
    assert(res.written == 50 && res.dirty == 3, s"got $res")
    assert(dirty.toSet == Set(5, 17, 42))
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM sink")
    rs.next()
    assert(rs.getInt(1) == 50)
    conn.close()
  }

  // ---- retry / failover / sampled split / session SQL ----------------------

  test("withRetry retries transient failures and fails fast on config errors") {
    import graft.sources.Retry
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val v = Retry.withRetry(maxAttempts = 3, baseDelayMs = 1) {
      if (n.incrementAndGet() < 3) throw new java.sql.SQLTransientConnectionException("flaky")
      42
    }
    assert(v == 42 && n.get() == 3, "two transient failures then success")
    // a non-transient error (bad SQL, unknown driver) is NOT retried
    val m = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[java.sql.SQLSyntaxErrorException] {
      Retry.withRetry(maxAttempts = 3, baseDelayMs = 1) {
        m.incrementAndGet(); throw new java.sql.SQLSyntaxErrorException("bad sql")
      }
    }
    assert(m.get() == 1)
    // exhaustion rethrows the LAST failure with priors attached as suppressed
    val e = intercept[java.sql.SQLException] {
      Retry.withRetry(maxAttempts = 3, baseDelayMs = 1) {
        throw new java.sql.SQLException("still down")
      }
    }
    assert(e.getSuppressed.length == 2)
  }

  test("multi-jdbcUrl failover probes to the first live candidate") {
    val conn = derby("failoverdb")
    conn.createStatement().execute("CREATE TABLE t1 (pk INT)")
    conn.close()
    // nonexistent in-memory DB (no ;create=true) fails to connect; the
    // probe must move on to the live second candidate
    val urls = Seq("jdbc:derby:memory:failover_nosuch", "jdbc:derby:memory:failoverdb")
    assert(graft.job.JdbcLane.chooseJdbcUrl(urls, "app", "app") == urls(1))
    // a single candidate passes through unprobed (the work connection will
    // surface any error with full fidelity)
    assert(graft.job.JdbcLane.chooseJdbcUrl(Seq("jdbc:x:y"), "a", "b") == "jdbc:x:y")
    // no live candidate: bounded sweeps then a SQLException naming them all
    val e = intercept[java.sql.SQLException] {
      graft.job.JdbcLane.chooseJdbcUrl(
        Seq("jdbc:derby:memory:failover_no1", "jdbc:derby:memory:failover_no2"),
        "a", "b", sweeps = 2)
    }
    assert(e.getMessage.contains("no connectable"))
  }

  test("reader lane column list admits constants and SQL functions") {
    import org.json4s.jackson.JsonMethods.parse
    val conn = derby("coldb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE src (id INT, name VARCHAR(16))")
    st.execute("INSERT INTO src VALUES (1, 'ann'), (2, 'bob')")
    conn.close()
    // the reference splices constants/functions into its SELECT list
    // (mysqlreader column doc); plain names prune into the scan, the rest
    // evaluate as expressions
    val df = graft.job.JdbcLane.read(spark, parse("""{
      "username": "app", "password": "app",
      "connection": [{"jdbcUrl": "jdbc:derby:memory:coldb", "table": ["src"]}],
      "column": ["id", "'k'", "upper(name)"]}"""), channels = 1)
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1, "k", "ANN"), (2, "k", "BOB")))
  }

  test("reader lane: jdbcUrl failover array + sampled split balances a skewed pk") {
    import org.json4s.jackson.JsonMethods.parse
    val conn = derby("skewdb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE skewed (pk INT, v VARCHAR(16))")
    val ins = conn.prepareStatement("INSERT INTO skewed VALUES (?, ?)")
    // 90 keys clustered low + 10 outliers 9M away: MIN/MAX range slicing
    // puts ~90% of rows in one slice; quantile sampling balances them
    val pks = (1 to 90) ++ (9000001 to 9000010)
    pks.foreach { i => ins.setInt(1, i); ins.setString(2, s"v$i"); ins.executeUpdate() }
    conn.close()
    def param(mode: String) = parse(s"""{
      "username": "app", "password": "app",
      "connection": [{"jdbcUrl": ["jdbc:derby:memory:skew_nosuch",
                                  "jdbc:derby:memory:skewdb"],
                      "table": ["skewed"]}],
      "splitPk": "pk", "splitMode": "$mode"}""")
    val sampled = graft.job.JdbcLane.read(spark, param("sampled"), channels = 4)
    assert(sampled.count() == 100)
    val sCounts = sampled.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sCounts.filter(_ > 0).forall(c => c >= 20 && c <= 30),
      s"sampled slices should be ~25 rows each: ${sCounts.toSeq}")
    val ranged = graft.job.JdbcLane.read(spark, param("range"), channels = 4)
    assert(ranged.count() == 100)
    val rCounts = ranged.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(rCounts.max >= 85, s"range slicing should collapse under skew: ${rCounts.toSeq}")
  }

  test("reader lane: sampled split balances a skewed STRING pk (sort-sample fallback)") {
    import org.json4s.jackson.JsonMethods.parse
    val conn = derby("skewstrdb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE skewedstr (pk VARCHAR(24), v VARCHAR(16))")
    val ins = conn.prepareStatement("INSERT INTO skewedstr VALUES (?, ?)")
    // 90 keys clustered under one prefix + 10 far outliers: radix-128
    // MIN/MAX slicing of the string range puts ~90% of rows in one slice;
    // the sort-sample quantile fallback balances them
    val pks = (1 to 90).map(i => f"aaa$i%03d") ++ (1 to 10).map(i => f"zzz$i%03d")
    pks.foreach { k => ins.setString(1, k); ins.setString(2, s"v$k"); ins.executeUpdate() }
    conn.close()
    def param(mode: String) = parse(s"""{
      "username": "app", "password": "app",
      "connection": [{"jdbcUrl": "jdbc:derby:memory:skewstrdb",
                      "table": ["skewedstr"]}],
      "splitPk": "pk", "splitMode": "$mode"}""")
    val sampled = graft.job.JdbcLane.read(spark, param("sampled"), channels = 4)
    assert(sampled.count() == 100)
    val sCounts = sampled.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sCounts.filter(_ > 0).forall(c => c >= 20 && c <= 30),
      s"sampled slices should be ~25 rows each: ${sCounts.toSeq}")
    val ranged = graft.job.JdbcLane.read(spark, param("range"), channels = 4)
    assert(ranged.count() == 100)
    val rCounts = ranged.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(rCounts.max >= 85, s"range slicing should collapse under skew: ${rCounts.toSeq}")
  }

  test("reader lane: sampled split of a digit-string VARCHAR pk keeps string order") {
    import org.json4s.jackson.JsonMethods.parse
    val conn = derby("digitstrdb")
    conn.createStatement().execute("CREATE TABLE digitstr (pk VARCHAR(8), v INT)")
    val ins = conn.prepareStatement("INSERT INTO digitstr VALUES (?, ?)")
    // mixed-width digit strings: the database orders '1000' < '1500' < '500',
    // so slice boundaries sorted as numbers would overlap and gap
    val pks = Seq(500, 1000, 1500, 2000).flatMap(b => (0 until 25).map(i => (b + i).toString))
    pks.foreach { k => ins.setString(1, k); ins.setInt(2, 1); ins.executeUpdate() }
    conn.close()
    val df = graft.job.JdbcLane.read(spark, parse("""{
      "username": "app", "password": "app",
      "connection": [{"jdbcUrl": "jdbc:derby:memory:digitstrdb", "table": ["digitstr"]}],
      "splitPk": "pk", "splitMode": "sampled"}"""), channels = 4)
    val read = df.collect().map(_.getString(0)).toSeq
    assert(read.diff(read.distinct).isEmpty, s"rows read twice: ${read.diff(read.distinct)}")
    assert(read.sorted == pks.sorted, s"rows missing: ${pks.diff(read)}")
  }

  test("reader lane: sampled split of a mixed-case VARCHAR pk follows the database collation") {
    import org.json4s.jackson.JsonMethods.parse
    val conn = DriverManager.getConnection("jdbc:derby:memory:collatedb;create=true;" +
      "territory=en_US;collation=TERRITORY_BASED:PRIMARY")
    conn.createStatement().execute("CREATE TABLE collated (pk VARCHAR(8), v INT)")
    val ins = conn.prepareStatement("INSERT INTO collated VALUES (?, ?)")
    // the database orders every 'a…' key before every 'B…' key; Java String
    // order puts 'B…' first, so boundaries taken in Java order overlap and gap
    val pks = (1 to 50).flatMap(i => Seq(f"a$i%03d", f"B$i%03d"))
    pks.foreach { k => ins.setString(1, k); ins.setInt(2, 1); ins.executeUpdate() }
    conn.close()
    val df = graft.job.JdbcLane.read(spark, parse("""{
      "username": "app", "password": "app",
      "connection": [{"jdbcUrl": "jdbc:derby:memory:collatedb", "table": ["collated"]}],
      "splitPk": "pk", "splitMode": "sampled"}"""), channels = 4)
    assert(df.rdd.getNumPartitions > 2)
    val read = df.collect().map(_.getString(0)).toSeq
    assert(read.diff(read.distinct).isEmpty, s"rows read twice: ${read.diff(read.distinct)}")
    assert(read.sorted == pks.sorted, s"rows missing: ${pks.diff(read)}")
  }

  test("DRDS dialect: mandatory session SQL reaches the reader properties") {
    import JdbcDialect._
    assert(of("drds") == Drds)
    // DRDS is MySQL on the wire: quoting, streaming fetch, URL suffix
    assert(Drds.quoteColumn("a") == "`a`")
    assert(Drds.readerFetchSize(Some(100)) == Integer.MIN_VALUE)
    assert(Drds.readerUrl("jdbc:mysql://h/db").contains("rewriteBatchedStatements=true"))
    // the forced transaction policy precedes the user session list
    // (reference DBUtil.java:712 dealWithSessionConfig)
    assert(Drds.sessionSqls(Seq("set names utf8mb4")) ==
      Seq("set transaction policy 4", "set names utf8mb4"))
    val props = readerProps(Drds, "u", "p", None, Seq("set names utf8mb4"))
    assert(props.getProperty("sessionInitStatement") ==
      "set transaction policy 4; set names utf8mb4")
    // no session statements -> no sessionInitStatement property at all
    assert(readerProps(Derby, "u", "p").getProperty("sessionInitStatement") == null)
  }

  test("preSql truncates the target and postSql runs after the load") {
    import spark.implicits._
    val conn = derby("prepostdb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE tgt (pk INT, v VARCHAR(16))")
    st.execute("CREATE TABLE audit (n INT)")
    st.execute("INSERT INTO tgt VALUES (999, 'stale')") // preSql must clear it
    conn.close()
    val df = (1 to 20).map(i => (i, s"v$i")).toDF("pk", "v").repartition(2)
    val connect = () => DriverManager.getConnection("jdbc:derby:memory:prepostdb")
    val (written, dirtyN) = JdbcWrite.write(df, connect, JdbcWrite.Insert, "tgt",
      preSql = Seq("DELETE FROM tgt"),
      postSql = Seq("INSERT INTO audit SELECT COUNT(*) FROM tgt"))
    assert(written == 20 && dirtyN == 0)
    val c2 = connect()
    val r1 = c2.createStatement().executeQuery("SELECT COUNT(*) FROM tgt WHERE pk = 999")
    r1.next(); assert(r1.getInt(1) == 0, "preSql did not clear the stale row")
    val r2 = c2.createStatement().executeQuery("SELECT n FROM audit")
    r2.next(); assert(r2.getInt(1) == 20, "postSql audit did not see the loaded rows")
    c2.close()
  }

  // ---- staged "load" mode (adswriter parity) -------------------------------

  private def count(connect: () => Connection, sql: String): Int = {
    val c = connect()
    try { val r = c.createStatement().executeQuery(sql); r.next(); r.getInt(1) }
    finally c.close()
  }

  test("staged load appends atomically and drops the transit table") {
    import spark.implicits._
    val conn = derby("loaddb")
    val st = conn.createStatement()
    st.execute("CREATE TABLE serving (pk INT, v VARCHAR(16))")
    st.execute("INSERT INTO serving VALUES (1, 'old1'), (2, 'old2')")
    conn.close()
    val connect = () => DriverManager.getConnection("jdbc:derby:memory:loaddb")
    val df = (10 to 14).map(i => (i, s"v$i")).toDF("pk", "v").repartition(3)
    val n = JdbcWrite.stagedLoad(df, connect, "serving", overwrite = false,
      stagingDdl = JdbcDialect.Derby.stagingDdl, staging = "serving_stg1")
    assert(n == 5)
    assert(count(connect, "SELECT COUNT(*) FROM serving") == 7) // 2 old + 5 loaded
    // transit table is gone (Derby errors on a missing table)
    val e = intercept[java.sql.SQLException] {
      count(connect, "SELECT COUNT(*) FROM serving_stg1")
    }
    assert(e.getSQLState == "42X05", s"expected missing-table state, got ${e.getSQLState}")
  }

  test("staged load with overWrite replaces the serving table in one transaction") {
    import spark.implicits._
    val conn = derby("loaddb2")
    val st = conn.createStatement()
    st.execute("CREATE TABLE serving (pk INT, v VARCHAR(16))")
    st.execute("INSERT INTO serving VALUES (1, 'old1'), (2, 'old2')")
    conn.close()
    val connect = () => DriverManager.getConnection("jdbc:derby:memory:loaddb2")
    val df = Seq((7, "new7"), (8, "new8"), (9, "new9")).toDF("pk", "v")
    val n = JdbcWrite.stagedLoad(df, connect, "serving", overwrite = true,
      stagingDdl = JdbcDialect.Derby.stagingDdl, staging = "serving_stg2")
    assert(n == 3)
    assert(count(connect, "SELECT COUNT(*) FROM serving") == 3)
    assert(count(connect, "SELECT COUNT(*) FROM serving WHERE pk < 7") == 0,
      "overwrite left pre-load rows behind")
  }

  test("staged load publish failure leaves the serving table untouched") {
    import spark.implicits._
    val conn = derby("loaddb3")
    val st = conn.createStatement()
    st.execute("CREATE TABLE serving (pk INT PRIMARY KEY, v VARCHAR(16))")
    st.execute("INSERT INTO serving VALUES (1, 'old1')")
    conn.close()
    val connect = () => DriverManager.getConnection("jdbc:derby:memory:loaddb3")
    // transit table has no constraints (CTAS drops them) so the duplicate
    // keys stage fine; the single publish txn hits the serving table's PK
    // and must roll back to exactly the prior state
    val df = Seq((5, "a"), (5, "b"), (6, "c")).toDF("pk", "v")
    intercept[java.sql.SQLException] {
      JdbcWrite.stagedLoad(df, connect, "serving", overwrite = true,
        stagingDdl = JdbcDialect.Derby.stagingDdl, staging = "serving_stg3")
    }
    assert(count(connect, "SELECT COUNT(*) FROM serving") == 1)
    assert(count(connect, "SELECT COUNT(*) FROM serving WHERE pk = 1") == 1,
      "failed publish must not remove pre-load rows (overwrite delete rolled back)")
    val e = intercept[java.sql.SQLException] {
      count(connect, "SELECT COUNT(*) FROM serving_stg3")
    }
    assert(e.getSQLState == "42X05", "transit table must be dropped even on failure")
  }

  test("adswriter lane JSON routes writeMode load (reference default) end-to-end") {
    import org.json4s.jackson.JsonMethods.parse
    import spark.implicits._
    val conn = derby("loadlane")
    conn.createStatement().execute("CREATE TABLE ads_tgt (pk INT, v VARCHAR(16))")
    conn.close()
    val df = (1 to 10).map(i => (i, s"v$i")).toDF("pk", "v")
    val param = parse("""{
      "username": "app", "password": "app", "writeMode": "load", "overWrite": true,
      "connection": [{"jdbcUrl": "jdbc:derby:memory:loadlane", "table": ["ads_tgt"]}]}""")
    val (written, dirtyN) = graft.job.JdbcLane.write(df, param)
    assert(written == 10 && dirtyN == 0)
    val connect = () => DriverManager.getConnection("jdbc:derby:memory:loadlane")
    assert(count(connect, "SELECT COUNT(*) FROM ads_tgt") == 10)
    // "stream" aliases the real-time insert lane (AdsInsertProxy analogue)
    val streamParam = parse("""{
      "username": "app", "password": "app", "writeMode": "stream",
      "connection": [{"jdbcUrl": "jdbc:derby:memory:loadlane", "table": ["ads_tgt"]}]}""")
    val (w2, _) = graft.job.JdbcLane.write(df.select(($"pk" + 100).as("pk"), $"v"), streamParam)
    assert(w2 == 10)
    assert(count(connect, "SELECT COUNT(*) FROM ads_tgt") == 20)
  }
}
