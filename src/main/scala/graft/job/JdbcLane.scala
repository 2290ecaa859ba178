package graft.job

import graft.sources.{JdbcDialect, JdbcSplit, JdbcWrite, Retry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.json4s._

import java.sql.DriverManager

/**
 * JDBC reader/writer lanes for the job-JSON layer — the reference's
 * bread-and-butter job shape (`mysqlreader` → anything → `mysqlwriter`;
 * reference: plugin-rdbms-util/.../reader/CommonRdbmsReader.java job/task
 * flow and writer/CommonRdbmsWriter.java startWrite). Parameter shape
 * mirrors the reference's:
 *
 * {{{
 * "reader": {"name": "mysqlreader", "parameter": {
 *   "username": "u", "password": "p",
 *   "connection": [{"jdbcUrl": ["jdbc:..."], "table": ["t_[00-03]"]}],
 *   "column": ["id", "name"], "splitPk": "id", "where": "x > 0",
 *   "querySql": ["SELECT ..."], "fetchSize": 1000}}
 * "writer": {"name": "mysqlwriter", "parameter": {
 *   "username": "u", "password": "p", "writeMode": "insert|replace|update",
 *   "connection": [{"jdbcUrl": "jdbc:...", "table": ["t"]}],
 *   "column": [...], "preSql": [...], "postSql": [...], "batchSize": 2048}}
 * }}}
 *
 * The dialect (quoting, fetch-size semantics, URL session params) resolves
 * from the jdbcUrl; `splitPk` plans predicate partitions through the
 * dialect's MIN/MAX probe (integer or radix-128 string slices, `IS NULL`
 * slice included) so `spark.read.jdbc` reads every slice in parallel.
 * A `jdbcUrl` ARRAY is a failover list (first live candidate wins); every
 * connection attempt retries with bounded backoff; `"session": [...]` SQL
 * runs on each fresh connection (plus the dialect's mandatory statements —
 * DRDS's `set transaction policy 4`); `"splitMode": "sampled"` plans
 * quantile-balanced slices for skewed keys (Oracle always does).
 */
object JdbcLane {

  private implicit val formats: Formats = DefaultFormats

  /** jdbcUrl appears as a string (writer) or an array (reader); the array
    * form is a FAILOVER list — candidates probed in order for a live one
    * (reference: DBUtil.chooseJdbcUrl, DBUtil.java:38-84). */
  private def candidateUrls(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map(_.extract[String])
    case JNothing | JNull => Nil
    case other => Seq(other.extract[String])
  }

  private def firstString(v: JValue): String = v match {
    case JArray(x :: _) => x.extract[String]
    case other => other.extract[String]
  }

  /** Probe the candidate URLs in order and return the first that accepts a
    * connection; a sweep with no live candidate is retried with backoff
    * (the reference retries the whole list inside RetryUtil). A single
    * candidate skips the probe — the actual work connection will surface
    * any error with full fidelity. */
  private[graft] def chooseJdbcUrl(urls: Seq[String], user: String, pass: String,
      sweeps: Int = 3): String = {
    require(urls.nonEmpty, "jdbc lane needs at least one jdbcUrl")
    if (urls.size == 1) return urls.head
    Retry.withRetry(maxAttempts = sweeps, baseDelayMs = 200L, retryOn = _ => true) {
      val errors = scala.collection.mutable.ArrayBuffer[String]()
      urls.find { u =>
        try { DriverManager.getConnection(u, user, pass).close(); true }
        catch { case scala.util.control.NonFatal(t) =>
          errors += s"$u -> ${t.getMessage}"; false }
      }.getOrElse(throw new java.sql.SQLException(
        s"no connectable jdbcUrl among ${urls.size} candidates: " +
          errors.mkString("; ")))
    }
  }

  /** Driver/executor connection with bounded-backoff retry and the
    * dialect's session statements applied (reference: DBUtil.getConnection
    * via RetryUtil + dealWithSessionConfig). */
  private def connectWithRetry(url: String, user: String, pass: String,
      sessionSqls: Seq[String]): java.sql.Connection =
    Retry.withRetry() {
      val c = DriverManager.getConnection(url, user, pass)
      try { sessionSqls.foreach { s => val st = c.createStatement(); try st.execute(s): Unit finally st.close() }; c }
      catch { case t: Throwable => try c.close() catch { case _: Throwable => () }; throw t }
    }

  private def connection(param: JValue): JValue = (param \ "connection") match {
    case JArray(c :: _) => c
    case other => other
  }

  private def credentials(param: JValue): (String, String) = (
    (param \ "username").extractOpt[String].getOrElse("app"),
    (param \ "password").extractOpt[String].getOrElse("app"))

  /** The dialect resolves from the URL subprotocol unless the lane name
    * forces one (`dialectHint` — DRDS speaks jdbc:mysql on the wire). */
  private def dialectFor(hint: Option[String], url: String): JdbcDialect =
    hint.map(JdbcDialect.of).getOrElse(JdbcDialect.of(url))

  def read(spark: SparkSession, param: JValue, channels: Int,
      dialectHint: Option[String] = None): DataFrame = {
    val conn = connection(param)
    val (user, pass) = credentials(param)
    val rawUrl = chooseJdbcUrl(candidateUrls(conn \ "jdbcUrl"), user, pass)
    val dialect = dialectFor(dialectHint, rawUrl)
    val url = dialect.readerUrl(rawUrl)
    val userSession = (param \ "session").extractOpt[List[String]].getOrElse(Nil)
    val props = JdbcDialect.readerProps(dialect, user, pass,
      (param \ "fetchSize").extractOpt[Int], userSession)

    val querySqls = (param \ "querySql").extractOpt[List[String]].getOrElse(Nil)
    if (querySqls.nonEmpty) {
      // querySql mode: user SQL verbatim, one scan per statement
      return JdbcSplit.querySqlSlices(querySqls)
        .map(q => spark.read.jdbc(url, s"($q) graft_q", props))
        .reduce(_ unionByName _)
    }

    val tables = ((conn \ "table") match {
      case JArray(ts) => ts.map(_.extract[String])
      case JString(s) => List(s)
      case JNothing | JNull => Nil
      case other => List(other.extract[String])
    }).flatMap(JdbcSplit.expandTables)
    require(tables.nonEmpty, "jdbc reader needs connection.table or querySql")
    val where = (param \ "where").extractOpt[String].filter(_.trim.nonEmpty)
    val splitPk = (param \ "splitPk").extractOpt[String].filter(_.trim.nonEmpty)
    val slicesTotal = JdbcSplit.adviceSliceCount(
      math.max(1, channels), tableMode = tables.size > 1)
    val perTable = math.max(1, slicesTotal / tables.size)

    // "sampled" routes split planning through quantile points instead of
    // MIN/MAX — the skewed-pk answer. Oracle defaults to it (the reference's
    // Oracle reader always splits via SAMPLE(), SingleTableSplitUtil
    // .java:294-311); other dialects opt in per job.
    val sampled = (param \ "splitMode").extractOpt[String].contains("sampled") ||
      dialect == JdbcDialect.Oracle
    val sessionSqls = dialect.sessionSqls(userSession)

    def readTable(table: String): DataFrame = splitPk match {
      case None =>
        val df = spark.read.jdbc(url, table, props)
        where.map(df.filter).getOrElse(df)
      case Some(pk) =>
        val preds = planSlices(spark, url, user, pass, dialect, pk, table, where,
          perTable, sampled, sessionSqls, props)
          .map(p => where.map(w => s"($p) AND ($w)").getOrElse(p))
        spark.read.jdbc(url, table, preds.toArray, props)
    }

    val df = tables.map(readTable).reduce(_ unionByName _)
    (param \ "column").extractOpt[List[String]].getOrElse(List("*")) match {
      case List("*") | Nil => df
      // the reference's column list admits constants and SQL functions
      // alongside plain names ("id", "'const'", "upper(name)" — reference
      // splices them into its SELECT list); plain identifiers bind as
      // columns (pruning pushes them into the scan), anything else
      // evaluates as a Spark SQL expression over the scanned row
      case cols => df.select(cols.map { c =>
        if (c.matches("[A-Za-z_][A-Za-z0-9_]*")) col(c) else expr(c)
      }: _*)
    }
  }

  /** Plan the split predicates for one table. Default: the dialect's
    * MIN/MAX probe → integer or radix-128 string slices (reference
    * SingleTableSplitUtil.splitSingleTable). `sampled`: quantile-point
    * slices — through the dialect's own sampling SQL when it has one
    * (Oracle SAMPLE(), reference SingleTableSplitUtil.java:294-389), else a
    * generic single-column quantile probe via Spark — so a skewed pk still
    * yields balanced slices. An empty or all-NULL-pk table degrades to one
    * unsplit slice; connection attempts retry with bounded backoff. */
  private def planSlices(spark: SparkSession, url: String, user: String,
      pass: String, dialect: JdbcDialect, pk: String, table: String,
      where: Option[String], slices: Int, sampled: Boolean,
      sessionSqls: Seq[String], props: java.util.Properties): Seq[String] = {
    if (sampled && slices > 1) {
      dialect.sampledSplitSql(pk, table, where, percent = 0.1, adviceNum = slices - 1) match {
        case Some(sql) =>
          val c = connectWithRetry(url, user, pass, sessionSqls)
          try {
            val rs = c.createStatement().executeQuery(sql)
            val pts = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
            while (rs.next()) {
              val o = rs.getObject(1)
              if (o != null) pts += ((o.toString, !o.isInstanceOf[Number]))
            }
            if (pts.isEmpty) Seq("1=1")
            else JdbcSplit.sampledSlices(pk, pts.map(_._1).toSeq,
              quoted = pts.head._2).map(_.toSql)
          } finally c.close()
        case None =>
          // generic fallback: pull ONLY the pk column through Spark's JDBC
          // source and quantile-probe it (exact; the probe scan is one
          // column, and at real scale a dialect-side SAMPLE beats it — add
          // the dialect's sampledSplitSql for that)
          val probe = spark.read.jdbc(url,
            s"(SELECT ${dialect.quoteColumn(pk)} AS gpk FROM ${dialect.quoteTable(table)}" +
              where.map(w => s" WHERE $w").getOrElse("") + ") graft_s", props)
          // case-folding DBs (Derby, Oracle, Postgres) return the unquoted
          // alias in THEIR case — bind to the single column by position
          val gpk = probe.schema.fields.head
          if (gpk.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) {
            val qs = (1 until slices).map(_.toDouble / slices).toArray
            val pts = probe.stat.approxQuantile(gpk.name, qs, 0.0)
              .map(p => BigDecimal(p).toBigInt.toString).distinct.toSeq
            if (pts.isEmpty) Seq("1=1")
            else JdbcSplit.sampledSlices(pk, pts, quoted = false).map(_.toSql)
          } else {
            // non-numeric pk: approxQuantile is numeric-only, so take the
            // slice-boundary values at their global ranks in the DATABASE's
            // order (ORDER BY): the slice predicates compare under its
            // collation, which need not be Java String order. The boundary
            // values are exact quantiles, so a skewed string pk still yields
            // balanced slices; only they are kept on the driver.
            val qpk = dialect.quoteColumn(pk)
            val from = s" FROM ${dialect.quoteTable(table)} WHERE " +
              where.map(w => s"($w) AND ").getOrElse("") + s"$qpk IS NOT NULL"
            val c = connectWithRetry(url, user, pass, sessionSqls)
            try {
              val count = c.createStatement().executeQuery(s"SELECT COUNT(*)$from")
              count.next()
              val n = count.getLong(1)
              val ranks = (1 until slices).map(i => i * n / slices)
                .filter(r => r > 0 && r < n).toSet
              val ordered = c.createStatement()
              // stream the ordered column (MySQL buffers a whole result
              // set unless asked to stream)
              ordered.setFetchSize(props.getProperty("fetchsize").toInt)
              val rs = ordered.executeQuery(s"SELECT $qpk$from ORDER BY $qpk")
              val pts = scala.collection.mutable.ArrayBuffer[String]()
              var idx = 0L
              while (idx <= ranks.maxOption.getOrElse(-1L) && rs.next()) {
                if (ranks(idx)) pts += rs.getObject(1).toString
                idx += 1
              }
              if (pts.isEmpty) Seq("1=1")
              else JdbcSplit.sampledSlices(pk, pts.toSeq, quoted = true).map(_.toSql)
            } finally c.close()
          }
      }
    } else rangeSlices(url, user, pass, dialect, pk, table, where, slices, sessionSqls)
  }

  private def rangeSlices(url: String, user: String, pass: String,
      dialect: JdbcDialect, pk: String, table: String,
      where: Option[String], slices: Int, sessionSqls: Seq[String]): Seq[String] = {
    val c = connectWithRetry(url, user, pass, sessionSqls)
    try {
      val rs = c.createStatement().executeQuery(dialect.pkRangeSql(pk, table, where))
      rs.next()
      (rs.getObject(1), rs.getObject(2)) match {
        case (null, _) | (_, null) => Seq("1=1")
        case (mn: Number, mx: Number) =>
          JdbcSplit.integerSlices(pk, BigInt(mn.longValue()), BigInt(mx.longValue()),
            slices).map(_.toSql)
        case (mn, mx) =>
          JdbcSplit.stringSlices(pk, mn.toString, mx.toString, slices).map(_.toSql)
      }
    } finally c.close()
  }

  /** Reference preCheck analogue for the writer side (WriterUtil
    * preCheckPrePareSQL / DBUtil connectivity probes): parse the config
    * eagerly (a bad writeMode fails HERE, not mid-load), connect, and
    * probe target-table visibility with a zero-row select. No data moves. */
  def preCheckWrite(param: JValue): Seq[String] =
    try {
      val conn0 = connection(param)
      val (user, pass) = credentials(param)
      val rawUrl = chooseJdbcUrl(candidateUrls(conn0 \ "jdbcUrl"), user, pass)
      val dialect = JdbcDialect.of(rawUrl)
      (param \ "writeMode").extractOpt[String].map(_.toLowerCase) match {
        case Some("load") | Some("stream") | None => () // staged-load / real-time insert lanes
        case Some(m) => JdbcWrite.parseMode(m)
      }
      val table = firstString(conn0 \ "table")
      val c = connectWithRetry(dialect.writerUrl(rawUrl), user, pass,
        dialect.sessionSqls(Nil))
      try c.createStatement().executeQuery(s"SELECT * FROM $table WHERE 1=0")
      finally c.close()
      Nil
    } catch { case e: Throwable => Seq(e.getMessage) }

  /** Returns (written, dirty). */
  def write(df: DataFrame, param: JValue,
      dialectHint: Option[String] = None,
      defaultWriteMode: String = "insert"): (Long, Long) = {
    val conn = connection(param)
    val (user, pass) = credentials(param)
    val rawUrl = chooseJdbcUrl(candidateUrls(conn \ "jdbcUrl"), user, pass)
    val dialect = dialectFor(dialectHint, rawUrl)
    val url = dialect.writerUrl(rawUrl)
    val sessionSqls = dialect.sessionSqls(
      (param \ "session").extractOpt[List[String]].getOrElse(Nil))
    val table = firstString(conn \ "table")
    val modeName = (param \ "writeMode").extractOpt[String]
      .getOrElse(defaultWriteMode).toLowerCase
    val selected = (param \ "column").extractOpt[List[String]].getOrElse(Nil) match {
      case Nil | List("*") => df
      case cols => df.select(cols.map(col): _*)
    }
    // each executor partition's connection retries independently with
    // backoff (Retry is an object — the closure serializes cleanly)
    val connect = () => connectWithRetry(url, user, pass, sessionSqls)
    val batchSize = (param \ "batchSize").extractOpt[Int].getOrElse(2048)
    modeName match {
      case "load" =>
        // adswriter staged load: transit table + single atomic publish
        // (`overWrite` is the reference's config key, adswriter Key.java:18)
        val n = JdbcWrite.stagedLoad(selected, connect, table,
          overwrite = (param \ "overWrite").extractOpt[Boolean].getOrElse(false),
          stagingDdl = dialect.stagingDdl, batchSize = batchSize)
        (n, 0L)
      case other =>
        // the reference's adswriter "stream" mode is its real-time insert
        // lane (AdsInsertProxy) — template-wise plain insert here
        val mode = JdbcWrite.parseMode(if (other == "stream") "insert" else other)
        JdbcWrite.write(selected, connect, mode, table,
          batchSize = batchSize,
          preSql = (param \ "preSql").extractOpt[List[String]].getOrElse(Nil),
          postSql = (param \ "postSql").extractOpt[List[String]].getOrElse(Nil))
    }
  }
}
