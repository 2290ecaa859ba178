package graft.sources

import org.apache.spark.sql.{DataFrame, Row}

import java.sql.{Connection, PreparedStatement, SQLException}

/**
 * JDBC sink parity: writeMode templates, batched PreparedStatement writes
 * with transaction-per-batch and row-by-row dirty replay on batch failure —
 * the reference's CommonRdbmsWriter behavior (reference:
 * plugin-rdbms-util/.../writer/CommonRdbmsWriter.java:262-398; writeMode
 * template builder WriterUtil.java:111-168), rebuilt on [[SinkPartitions]]:
 * one connection + one prepared statement per Spark partition, `batchSize`
 * rows per executeBatch (the reference defaults 2048).
 */
object JdbcWrite {

  sealed trait WriteMode
  /** Plain INSERT — duplicate keys error (and replay to dirty). */
  case object Insert extends WriteMode
  /** MySQL REPLACE INTO — delete-then-insert upsert. */
  case object Replace extends WriteMode
  /** MySQL INSERT ... ON DUPLICATE KEY UPDATE — in-place upsert. This is the
    * reference's `update` mode; on the lakehouse side its semantics are the
    * snapshot table's MERGE (graft.table.SnapTable). */
  case object Update extends WriteMode

  def parseMode(s: String): WriteMode = s.toLowerCase match {
    case "insert" => Insert
    case "replace" => Replace
    case "update" => Update
    case other => throw new IllegalArgumentException(s"writeMode '$other'")
  }

  /** Render the write template for a mode (MySQL dialect, as the reference's
    * mysql writer; `?` placeholders in column order). */
  def template(mode: WriteMode, table: String, cols: Seq[String]): String = {
    require(cols.nonEmpty, "no columns")
    val colList = cols.mkString(", ")
    val qs = cols.map(_ => "?").mkString(", ")
    mode match {
      case Insert => s"INSERT INTO $table ($colList) VALUES ($qs)"
      case Replace => s"REPLACE INTO $table ($colList) VALUES ($qs)"
      case Update =>
        val updates = cols.map(c => s"$c = VALUES($c)").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES ($qs) ON DUPLICATE KEY UPDATE $updates"
    }
  }

  /** Result of one partition's write. */
  final case class PartitionResult(written: Long, dirty: Long)

  /** Bind `columns` of `row`, in order, to parameters 1..n of `st`; a null
    * cell binds SQL NULL. */
  private def bind(st: PreparedStatement, row: Row, columns: IndexedSeq[Int]): Unit = {
    var p = 0
    while (p < columns.length) {
      val c = columns(p)
      st.setObject(p + 1, if (row.isNullAt(c)) null else row.get(c))
      p += 1
    }
  }

  /**
   * Write one partition's rows: buffer to `batchSize`, executeBatch inside a
   * transaction; if the batch fails, roll back and replay row-by-row,
   * routing the failing rows to `onDirty` (the reference's dirty-record
   * replay, CommonRdbmsWriter.java:344-398).
   */
  def writePartition(conn: Connection, sql: String, rows: Iterator[Row],
      batchSize: Int = 2048, onDirty: (Row, SQLException) => Unit = (_, _) => ())
      : PartitionResult = {
    val priorAutoCommit = conn.getAutoCommit
    conn.setAutoCommit(false)
    val st = conn.prepareStatement(sql)
    var written = 0L
    var dirty = 0L
    val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
    def bindAll(r: Row): Unit = bind(st, r, 0 until r.length)

    def flush(): Unit = {
      if (buf.isEmpty) return
      try {
        buf.foreach { r => bindAll(r); st.addBatch() }
        st.executeBatch()
        conn.commit()
        written += buf.size
      } catch {
        case _: SQLException =>
          conn.rollback()
          st.clearBatch()
          // row-by-row replay: good rows commit, offenders go to dirty
          buf.foreach { r =>
            try {
              bindAll(r); st.executeUpdate(); conn.commit(); written += 1
            } catch {
              case e: SQLException =>
                conn.rollback(); dirty += 1; onDirty(r, e)
            }
          }
      }
      buf.clear()
    }

    try {
      rows.foreach { r =>
        buf += r
        if (buf.size >= batchSize) flush()
      }
      flush()
    } finally {
      st.close()
      conn.setAutoCommit(priorAutoCommit) // leave the connection clean
    }
    PartitionResult(written, dirty)
  }

  /**
   * Distributed write: each partition through [[writePartition]] on its
   * own connection from `connect` ([[SinkPartitions]] has the loop and its
   * retry semantics). Returns (written, dirty) totals. A re-run partition's
   * rows surface under `Insert` as key violations (routed to dirty by the
   * row-by-row replay); `Replace`/`Update` upserts are retry-idempotent and
   * are the modes to use when the target has a primary key. Exactly-once
   * needs a transactional target with an epoch guard — that is the
   * snapshot table's MERGE path, not raw JDBC.
   */
  def write(df: DataFrame, connect: () => Connection, mode: WriteMode, table: String,
      batchSize: Int = 2048, preSql: Seq[String] = Nil, postSql: Seq[String] = Nil): (Long, Long) = {
    val sql = template(mode, table, df.columns.toSeq)
    // pre/postSql run ONCE per job on a driver-side connection, around the
    // distributed writes (reference: WriterUtil.executeSqls — e.g. a
    // truncate/DELETE before load, an index rebuild or audit insert after)
    if (preSql.nonEmpty) runSqls(connect, preSql)
    val totals = SinkPartitions.counts(df, connect) { (conn, rows) =>
      val res = writePartition(conn, sql, rows, batchSize)
      (res.written, res.dirty)
    }
    if (postSql.nonEmpty) runSqls(connect, postSql)
    totals
  }

  /**
   * Staged "load" write — the reference adswriter's default mode rebuilt
   * on JDBC: fill a freshly-created transit table in parallel, then
   * publish into the serving table with ONE atomic driver-side
   * transaction, then drop the transit table (reference: AdsWriter.java
   * load-mode job flow — temp ODPS table via TableMetaHelper, parallel
   * block upload, single `LOAD DATA FROM ... [OVERWRITE]` submit+wait,
   * AdsHelper.java:204-290). The serving table never sees partial data:
   * readers observe the old contents until the publish commit, and any
   * failure before it (including constraint violations the transit table
   * deliberately accepted) rolls back to exactly the prior state.
   *
   * Retry shape: each partition fills the transit table under a SINGLE
   * transaction (commit at partition end), so a failed task's rows vanish
   * with its rollback and the retry re-fills from nothing — the block-id
   * overwrite analogue.
   *
   * Returns rows published. `stagingDdl` comes from the dialect
   * ([[JdbcDialect.stagingDdl]]); `staging` defaults to the reference's
   * `<table>_<millis><rand>` transit-name pattern
   * (TableMetaHelper.java:82-85).
   */
  def stagedLoad(df: DataFrame, connect: () => Connection, table: String,
      overwrite: Boolean, stagingDdl: (String, String) => String,
      batchSize: Int = 2048, staging: String = ""): Long = {
    val cols = df.columns.toSeq
    val stg =
      if (staging.nonEmpty) staging
      else s"${table}_dx_${System.currentTimeMillis()}${1000 + scala.util.Random.nextInt(1000)}"
    runSqls(connect, Seq(stagingDdl(stg, table)))
    try {
      val sql = template(Insert, stg, cols)
      val all = cols.indices
      val (staged, _) = SinkPartitions.counts(df, connect) { (conn, rows) =>
        conn.setAutoCommit(false)
        val st = conn.prepareStatement(sql)
        var n = 0L; var pending = 0
        rows.foreach { r =>
          bind(st, r, all); st.addBatch(); n += 1; pending += 1
          if (pending >= batchSize) { st.executeBatch(); pending = 0 }
        }
        if (pending > 0) st.executeBatch()
        conn.commit() // the partition's one commit — all rows or none
        st.close()
        (n, 0L)
      }
      // atomic publish: truncate-if-overwrite + INSERT..SELECT in one txn
      val conn = connect()
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          if (overwrite) st.executeUpdate(s"DELETE FROM $table")
          val colList = cols.mkString(", ")
          st.executeUpdate(s"INSERT INTO $table ($colList) SELECT $colList FROM $stg")
          conn.commit()
        } catch {
          case e: Exception => conn.rollback(); throw e
        } finally st.close()
      } finally conn.close()
      staged
    } finally {
      // transit table always goes away, published or not
      try runSqls(connect, Seq(s"DROP TABLE $stg"))
      catch { case _: Exception => () }
    }
  }

  /**
   * Apply LWW change STATES (one row per key, `opCol` = U/D) to a JDBC
   * table as DELETE-by-key + (op != 'D') INSERT — the portable replace
   * shape every dialect supports, where the reference leans on MySQL
   * `REPLACE INTO` (reference: plugin-rdbms-util/.../writer/WriterUtil
   * .java:71-122 writeMode templates). Within a batch chunk all deletes
   * execute before all inserts, which is safe exactly because each key
   * appears at most once in a change-state frame. Idempotent: re-applying
   * the same states converges to the same table, so task retry and
   * crash-replay give at-least-once delivery with exactly-once effect.
   * Returns (upserts, deletes).
   */
  def applyChanges(df: DataFrame, connect: () => Connection, table: String,
      keyCols: Seq[String], opCol: String = "op",
      batchSize: Int = 1024): (Long, Long) = {
    val cols = df.columns.toSeq
    val dataCols = cols.filterNot(_ == opCol)
    val keyIdx = keyCols.map(cols.indexOf).toIndexedSeq
    val dataIdx = dataCols.map(cols.indexOf).toIndexedSeq
    val opIdx = cols.indexOf(opCol)
    require(keyIdx.forall(_ >= 0) && opIdx >= 0,
      s"applyChanges needs $keyCols and '$opCol' in ${cols.mkString(",")}")
    val delSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"$k = ?").mkString(" AND ")
    val insSql = template(Insert, table, dataCols)
    SinkPartitions.counts(df, connect) { (conn, rows) =>
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(delSql)
      val ins = conn.prepareStatement(insSql)
      var ups = 0L; var dels = 0L; var pending = 0
      def flush(): Unit = if (pending > 0) {
        del.executeBatch(); ins.executeBatch(); conn.commit(); pending = 0
      }
      rows.foreach { r =>
        bind(del, r, keyIdx); del.addBatch()
        if (r.getString(opIdx) == "D") dels += 1
        else { bind(ins, r, dataIdx); ins.addBatch(); ups += 1 }
        pending += 1
        if (pending >= batchSize) flush()
      }
      flush()
      (ups, dels)
    }
  }

  /** Execute statements sequentially on one fresh connection. */
  def runSqls(connect: () => Connection, sqls: Seq[String]): Unit = {
    val conn = connect()
    try {
      val st = conn.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally conn.close()
  }
}
