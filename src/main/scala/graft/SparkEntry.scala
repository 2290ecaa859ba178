package graft

import graft.cdc.{CdcPipeline, Dedup, Dirty, ErrorLimit}
import graft.functions.DataXTransforms._
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.Schemas
import graft.operators.{Multimodal, Similarity, TextAnalysis, TextDedup}
import graft.table.SnapTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ListBuffer

/**
 * The query contract: one [[registry]] entry per implemented operator
 * (SURVEY.md §2 + the training-data operator set), each holding its name,
 * the DuckDB SQL that gates it and its Spark run, side by side. Column names
 * are aliased identically on both sides; doubles are summed as decimals or
 * rounded deterministically so the value-hash compare is exact.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full CDC replay (generate -> dirty gate -> LWW dedup ->
    * snapshot MERGE -> final transcript state) at smoke scale, handed to
    * `consume` before its scratch space is deleted. */
  def entry[A](spark: SparkSession)(consume: DataFrame => A): A = withScratch { _ =>
    val work = scratchDir("graft-entry")
    val cfg = GenConfig(numEvents = 10000, numConvs = 100, chunks = 4)
    ChangeStreamGen.writeChangelog(spark, cfg, s"$work/log")
    val table = SnapTable.create(spark, s"$work/table", Schemas.payloadV2, numBuckets = 8)
    CdcPipeline.replayBatch(spark, s"$work/log", table)
    consume(table.read(spark).orderBy("conv_id", "turn_idx"))
  }

  /** The temp dirs made so far by the enclosing [[withScratch]]. */
  private val scratch = new scala.util.DynamicVariable[ListBuffer[java.nio.file.Path]](null)

  /** Runs `f`, which sees the temp dirs it has made through [[scratchDir]],
    * and deletes them when it returns: the one owner of a run's scratch
    * space, so a query that builds tables or files leaves nothing behind
    * once its result is consumed. */
  private def withScratch[A](f: collection.Seq[java.nio.file.Path] => A): A = {
    val made = ListBuffer.empty[java.nio.file.Path]
    try scratch.withValue(made)(f(made))
    finally made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  /** A fresh temp dir owned by the enclosing [[withScratch]]. */
  private def scratchDir(prefix: String): String = {
    require(scratch.value != null, "scratch space is made only inside a query run")
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratch.value += d
    d.toString
  }

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  /** One contract query: its name, the DuckDB SQL that gates it (every
    * query is oracle-gated) and its Spark run over a fixture directory. */
  final case class Query(name: String, oracle: String)(
      body: (SparkSession, String) => DataFrame) {
    /** Runs the query over `dir` and hands its result to `consume`; the
      * tables and files the run built are deleted once `consume` returns. */
    def run[A](s: SparkSession, dir: String)(consume: DataFrame => A): A =
      withScratch(_ => consume(body(s, dir)))

    /** The result as a frame that outlives the run: the query's own frame,
      * or a local checkpoint of it when the run built tables or files. */
    def frame(s: SparkSession, dir: String): DataFrame = withScratch { made =>
      val df = body(s, dir)
      if (made.isEmpty) df else df.localCheckpoint()
    }
  }

  /** Every contract query, in run order. */
  lazy val registry: Seq[Query] = Seq(

    // ---- relational core (what the north star adds over the reference,
    //      SURVEY.md §2.7) ------------------------------------------------

    // DECIMAL-typed outputs are emitted as scaled BIGINTs (suffix _qN =
    // value * 10^N): Spark and DuckDB give the same exact decimal VALUES but
    // different decimal WIDTHS (sum(decimal(18,4)) -> decimal(28,4) vs
    // DECIMAL(38,4)), which a type-aware value hash distinguishes. The
    // scaled-integer form is representation-stable on both sides — the same
    // trick unix_micros plays for timestamps.
    Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_qty_q4,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_q4,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8)))
        |    * 100000000 AS BIGINT) AS sum_disc_price_q8,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(col("l_quantity").cast("decimal(18,4)")) * 10000).cast("long").as("sum_qty_q4"),
          (sum(col("l_extendedprice").cast("decimal(18,4)")) * 10000).cast("long").as("sum_price_q4"),
          (sum((col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
            .cast("decimal(28,8)")) * 100000000L).cast("long").as("sum_disc_price_q8"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    Query("q_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))
        |       AS DECIMAL(28,8)) * 100000000 AS BIGINT) AS disc_amount_q8
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      // predicate + projection pushed into the parquet scan
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
          && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("l_extendedprice").cast("decimal(18,4)") *
            col("l_discount").cast("decimal(18,4)")).cast("decimal(28,8)") *
            100000000L).cast("long").as("disc_amount_q8"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    Query("q_join_broadcast",
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_q4,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      // star join: fact ⋈ broadcast dims (dims are tiny -> broadcast hash
      // join, no shuffle of the fact side beyond the final agg)
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("o_totalprice").cast("decimal(18,4)")) * 10000).cast("long").as("revenue_q4"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    },

    Query("q_join_shuffle",
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_qty_q4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // large-large join -> shuffle hash/sort-merge on the join key
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("l_quantity").cast("decimal(18,4)")) * 10000).cast("long").as("sum_qty_q4"))
        .orderBy("o_orderpriority")
    },

    Query("q_window_topk",
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    },

    Query("q_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000 AS BIGINT)
        |    AS running_spend_q4
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_spend_q4",
          (sum(col("o_totalprice").cast("decimal(18,4)")).over(w) * 10000).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend_q4"))
        .orderBy("o_custkey", "o_orderkey")
    },

    Query("q_sort_limit",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS price_q4
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice").cast("decimal(18,4)") * 10000).cast("long").as("price_q4"))
        .limit(10)
    },

    Query("q_anti_join",
      """SELECT c_mktsegment, count(*) AS n_no_order FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      // right side filtered so the anti-join is non-empty at test SF
      c.join(o.filter(col("o_orderstatus") === "F"),
          c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_no_order"))
        .orderBy("c_mktsegment")
    },

    Query("q_semi_join",
      """SELECT c_mktsegment, count(*) AS n_with_order FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_order"))
        .orderBy("c_mktsegment")
    },

    Query("q_setop",
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin) { (s, dir) =>
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.union(sn).distinct().orderBy("nk")
    },

    Query("q_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT) AS qty_q4
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          (sum(col("l_quantity").cast("decimal(18,4)")) * 10000).cast("long").as("qty_q4"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    Query("q_distinct_agg",
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")
    },

    // ---- CDC / LWW semantics on the events stream table -----------------

    Query("q_cdc_lww", lwwOracle) { (s, dir) =>
      // last-writer-wins per (user_id, event_type) over (ts, lsn) through
      // Dedup.lww — the native lww_winner reduce every table write runs
      val ev = t(s, dir, "events")
        .withColumn("lsn", col("event_id"))
      Dedup.lww(ev, keys = Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("last_value_q4"))
        .orderBy("user_id", "event_type")
    },

    Query("q_cdc_lww_salted", lwwOracle) { (s, dir) =>
      // two-phase salted variant — must be bit-identical to q_cdc_lww
      val ev = t(s, dir, "events").withColumn("lsn", col("event_id"))
      Dedup.lwwSalted(ev, keys = Seq("user_id", "event_type"), order = Seq("ts", "lsn"),
          salt = 8)
        .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("last_value_q4"))
        .orderBy("user_id", "event_type")
    },

    Query("q_event_window",
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_value_q4
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,4)")) * 10000).cast("long").as("sum_value_q4"))
        .select(unix_micros(col("hour")).as("hour_us"), col("event_type"), col("n"),
          col("sum_value_q4"))
        .orderBy("hour_us", "event_type")
    },

    Query("q_dirty_gate",
      """SELECT side, count(*) AS n FROM (
        |  SELECT CASE WHEN value IS NULL OR value > 300 THEN 'value_range'
        |              WHEN event_type NOT IN ('click','view','purchase','signup','error')
        |                THEN 'type_domain'
        |              ELSE 'clean' END AS side
        |  FROM events) GROUP BY side ORDER BY side""".stripMargin) { (s, dir) =>
      // dirty sideband: quarantine rows violating domain rules, report both
      // sides (the reference's errorLimit accounting, SURVEY.md §2.5)
      val ev = t(s, dir, "events")
      val split = Dirty.split(ev, Seq(
        Dirty.Rule("value_range", col("value").isNotNull && col("value") <= 300.0),
        Dirty.Rule("type_domain",
          col("event_type").isin("click", "view", "purchase", "signup", "error"))))
      val clean = split.clean.groupBy(lit("clean").as("side")).agg(count(lit(1)).as("n"))
      val dirty = split.dirty.groupBy(col("__dirty_reason").as("side"))
        .agg(count(lit(1)).as("n"))
      clean.unionByName(dirty).orderBy("side")
    },

    // ---- DataX transform-chain parity (reference transformer/doc/
    //      transformer.md:11-87) ------------------------------------------

    Query("q_dx_substr",
      """SELECT p_partkey,
        |  CASE WHEN p_name IS NULL THEN NULL
        |       WHEN length(p_name) < 0 THEN NULL
        |       ELSE substr(p_name, 1, 8) END AS name8,
        |  CASE WHEN p_brand IS NULL THEN NULL
        |       WHEN length(p_brand) < 6 THEN NULL
        |       ELSE substr(p_brand, 7, 10) END AS brand_tail
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), dxSubstr(col("p_name"), 0, 8).as("name8"),
          dxSubstr(col("p_brand"), 6, 10).as("brand_tail"))
        .orderBy("p_partkey")
    },

    Query("q_dx_pad",
      """SELECT event_id, lpad(coalesce(event_type, ''), 10, '_') AS padded_l,
        |  rpad(coalesce(event_type, ''), 10, '*') AS padded_r
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), dxPad(col("event_type"), "l", 10, "_").as("padded_l"),
          dxPad(col("event_type"), "r", 10, "*").as("padded_r"))
        .orderBy("event_id")
    },

    Query("q_dx_replace",
      """SELECT c_custkey,
        |  substr(c_name, 1, 9) || 'XXX' ||
        |  CASE WHEN length(c_name) > 12 THEN substr(c_name, 13) ELSE '' END AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), dxReplace(col("c_name"), 9, 3, "XXX").as("masked"))
        .orderBy("c_custkey")
    },

    // DataX's dx_filter null rules are NOT SQL 3VL: a null cell never matches
    // a like/range predicate, so null rows SURVIVE the drop-filter (reference:
    // core/.../transformer/FilterTransformer.java:74-77, 205-212). The oracle
    // encodes that explicitly rather than relying on a null-free fixture.
    Query("q_dx_filter",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE (event_type IS NULL OR NOT regexp_full_match(event_type, 'cl.*'))
        |  AND (value IS NULL OR NOT (value > 300))
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // drop rows where event_type full-matches /cl.*/ OR value > 300
      // (typed range compare) — survivors per type
      t(s, dir, "events")
        .filter(!dxFilterPred(col("event_type"), "like", "cl.*"))
        .filter(!dxFilterPred(col("value"), ">", "300"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    Query("q_dx_script",
      """SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_q4
        |FROM events WHERE event_type <> 'error'
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      // dx_groovy parity: USER CODE arrives as text and is compiled at
      // runtime (ToolBox, cached) — still a Catalyst plan, so pushdown and
      // codegen apply as if it were compiled in
      applyChain(t(s, dir, "events"), Seq(graft.functions.DataXTransforms.Script(
        """df.filter(col("event_type") =!= "error")
          |  .withColumn("value_q4", (col("value").cast("decimal(18,4)") * 10000).cast("long"))
          |  .select(col("event_id"), col("event_type"), col("value_q4"))""".stripMargin)))
        .orderBy("event_id")
    },

    Query("q_dx_map",
      """SELECT o_orderkey, o_orderkey * 3 AS key_adj,
        |  'fx-' || o_orderstatus AS status_tag
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // ComplexTransformer parity (reference transformer/.../
      // ComplexTransformer.java evaluate(record, tContext, paras)):
      // multi-column USER code that additionally reads a job-config context
      // map — compiled once, still a Catalyst plan
      applyChain(t(s, dir, "orders"), Seq(graft.functions.DataXTransforms.MapT(
        Map("mult" -> "3", "tag" -> "fx"),
        """df.withColumn("key_adj", col("o_orderkey") * ctx("mult").toLong)
          |  .withColumn("status_tag", concat(lit(ctx("tag")), lit("-"), col("o_orderstatus")))
          |  .select(col("o_orderkey"), col("key_adj"), col("status_tag"))""".stripMargin)))
        .orderBy("o_orderkey")
    },

    Query("q_sniff_auto",
      """SELECT * FROM (
        |  SELECT 'supplier' AS src, CAST(s_suppkey AS BIGINT) AS id_key,
        |         s_name AS name FROM supplier
        |  UNION ALL
        |  SELECT 'nation' AS src, CAST(n_nationkey AS BIGINT) AS id_key,
        |         n_name AS name FROM nation
        |) ORDER BY src, id_key""".stripMargin) { (s, dir) =>
      // format comes from MAGIC BYTES, not config or extension (reference
      // DFSUtil.java:524-695 re-routes on fileType mismatch): an ORC copy
      // and a gzip CSV copy are both read through readAuto
      import graft.sources.{TypedFileSink, TypedFileSource}
      import graft.sources.TypedFileSource.{ColumnSpec, CsvConfig}
      val work = scratchDir("graft-sniff")
      t(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
        .coalesce(1).write.orc(s"$work/supp")
      TypedFileSink.writeCsv(
        t(s, dir, "nation").select("n_nationkey", "n_name"),
        s"$work/nat", TypedFileSink.WriteConfig(compression = Some("gzip")))
      val supp = TypedFileSource.readAuto(s, Seq(s"$work/supp"))
        .select(lit("supplier").as("src"), col("s_suppkey").cast("long").as("id_key"),
          col("s_name").as("name"))
      val nat = TypedFileSource.readAuto(s, Seq(s"$work/nat"),
        columns = Seq(
          ColumnSpec(index = Some(0), `type` = "long", name = Some("n_nationkey")),
          ColumnSpec(index = Some(1), `type` = "string", name = Some("n_name"))),
        cfg = CsvConfig())
        .select(lit("nation").as("src"), col("n_nationkey").as("id_key"),
          col("n_name").as("name"))
      supp.unionByName(nat).orderBy("src", "id_key")
    },

    Query("q_file_roundtrip",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice,
        |  epoch_us(o_orderdate) AS od_us
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // HdfsWriter/TxtFile lane end-to-end: typed CSV WRITE (truncate mode,
      // \N nullFormat, stringified timestamps) then typed CSV READ
      // (checkedLong / try_cast / cast-ladder) must reproduce the source
      // values bit-for-bit — longs, doubles (shortest-repr text round-trip),
      // planted nulls, and second-precision timestamps
      import graft.sources.{TypedFileSink, TypedFileSource}
      import graft.sources.TypedFileSource.{ColumnSpec, CsvConfig}
      val src = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"))
      val out = scratchDir("graft-csvrt") + "/orders"
      TypedFileSink.writeCsv(src, out, TypedFileSink.WriteConfig(writeMode = "truncate"))
      TypedFileSource.readCsv(s, Seq(out), Seq(
          ColumnSpec(index = Some(0), `type` = "long", name = Some("o_orderkey")),
          ColumnSpec(index = Some(1), `type` = "long", name = Some("o_custkey")),
          ColumnSpec(index = Some(2), `type` = "double", name = Some("o_totalprice")),
          ColumnSpec(index = Some(3), `type` = "datetime",
            format = Some("yyyy-MM-dd HH:mm:ss"), name = Some("__ts"))),
        CsvConfig(nullFormat = Some("\\N")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          unix_micros(col("__ts")).as("od_us"))
        .orderBy("o_orderkey")
    },

    Query("q_orc_roundtrip",
      """SELECT p_partkey, p_name,
        |  CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_retailprice END AS p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      // HdfsWriter ORC lane end-to-end: typed ORC WRITE (truncate mode,
      // self-describing types — no text stringification) read back through
      // the typed column projection; values must survive bit-for-bit
      import graft.sources.{TypedFileSink, TypedFileSource}
      import graft.sources.TypedFileSource.ColumnSpec
      val src = t(s, dir, "part").select(
        col("p_partkey"), col("p_name"),
        when(col("p_partkey") % 5 === 0, lit(null))
          .otherwise(col("p_retailprice")).as("p_retailprice"))
      val out = scratchDir("graft-orcrt") + "/part"
      TypedFileSink.writeOrc(src, out, TypedFileSink.WriteConfig(writeMode = "truncate"))
      TypedFileSource.readOrc(s, Seq(out), Seq(
          ColumnSpec(index = Some(0), `type` = "long", name = Some("p_partkey")),
          ColumnSpec(index = Some(1), `type` = "string", name = Some("p_name")),
          ColumnSpec(index = Some(2), `type` = "double", name = Some("p_retailprice"))))
        .orderBy("p_partkey")
    },

    Query("q_jdbc_roundtrip",
      """SELECT c_custkey, c_name, CAST(c_nationkey AS INT) AS c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      // CommonRdbmsReader/Writer end-to-end against embedded Derby: batched
      // INSERT write, then a dialect-planned predicate-partitioned read
      // (MIN/MAX probe -> integer slices incl. the IS NULL slice), oracle'd
      // against the parquet source the rows came from
      import graft.sources.{JdbcDialect, JdbcSplit, JdbcWrite}
      val db = "graftq" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db"
      val connect = () => java.sql.DriverManager.getConnection(s"$url;create=true")
      val c = connect()
      c.createStatement().execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR(64), c_nationkey INT)")
      c.close()
      val src = t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
      val (written, dirty) = JdbcWrite.write(src, connect, JdbcWrite.Insert, "customer")
      require(dirty == 0, s"unexpected dirty rows: $dirty of $written")
      val dialect = JdbcDialect.of(url)
      val c2 = connect()
      val rs = c2.createStatement().executeQuery(
        dialect.pkRangeSql("c_custkey", "customer", where = None))
      rs.next()
      val (mn, mx) = (BigInt(rs.getLong(1)), BigInt(rs.getLong(2)))
      c2.close()
      val preds = JdbcSplit.integerSlices("c_custkey", mn, mx, 8).map(_.toSql).toArray
      s.read.jdbc(url, "customer", preds, JdbcDialect.readerProps(dialect, "app", "app"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int").as("c_nationkey"))
        .orderBy("c_custkey")
    },

    Query("q_ads_load",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // AdsWriter staged "load" mode end-to-end (reference AdsWriter.java
      // load flow): a first load seeds the serving table with STALE rows,
      // then an overWrite load publishes the real set through a transit
      // table + one atomic txn — the read-back must show only the real set,
      // proving the overwrite replaced (not appended) and the publish is
      // all-or-nothing
      import graft.sources.{JdbcDialect, JdbcWrite}
      val db = "graftads" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db"
      val connect = () => java.sql.DriverManager.getConnection(s"$url;create=true")
      val c = connect()
      c.createStatement().execute(
        "CREATE TABLE serving (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
      c.close()
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val stale = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      val fresh = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      val ddl = JdbcDialect.Derby.stagingDdl _
      JdbcWrite.stagedLoad(stale, connect, "serving", overwrite = false, stagingDdl = ddl)
      JdbcWrite.stagedLoad(fresh, connect, "serving", overwrite = true, stagingDdl = ddl)
      s.read.jdbc(url, "serving", JdbcDialect.readerProps(JdbcDialect.of(url), "app", "app"))
        .select(col("O_ORDERKEY").as("o_orderkey"), col("O_CUSTKEY").as("o_custkey"),
          col("O_TOTALPRICE").as("o_totalprice")) // Derby uppercases identifiers
        .orderBy("o_orderkey")
    },

    Query("q_cast_ladder",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
        |       WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y/%m/%d')
        |       ELSE strftime(o_orderdate, '%Y%m%d') END AS raw,
        |  epoch_us(o_orderdate) AS parsed_us
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // ColumnCast multi-format parse ladder (reference ColumnCast.java:
      // 87-117): strings in three formats all parse back to the same date
      val o = t(s, dir, "orders")
      val scol = when(pmod(col("o_orderkey"), lit(3)) === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1,
          date_format(col("o_orderdate"), "yyyy/MM/dd"))
        .otherwise(date_format(col("o_orderdate"), "yyyyMMdd"))
      o.select(col("o_orderkey"), scol.as("raw"))
        .withColumn("parsed_us", unix_micros(castLadderTimestamp(col("raw"))))
        .orderBy("o_orderkey")
    },

    // ---- training-data operators: dedup ---------------------------------

    Query("q_dedup_exact",
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_uniq
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_uniq"))
        .orderBy("source")
    },

    Query("q_ngram_jaccard", jaccardOracle) { (s, dir) =>
      // exact word-3-gram jaccard near-dup pairs (threshold separates the
      // planted dups cleanly from background, verified on the fixture)
      TextDedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("j"))
        .orderBy("a", "b")
    },

    Query("q_ngram_prefix", jaccardOracle) { (s, dir) =>
      // SAME output as q_ngram_jaccard through the prefix-filtered
      // candidate path (rarest-gram prefixes + length filter) — the
      // standalone 100 TB form; gated against the identical exhaustive oracle
      TextDedup.ngramJaccardPrefixPairs(t(s, dir, "documents"), threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("j"))
        .orderBy("a", "b")
    },

    Query("q_minhash_lsh", jaccardOracle) { (s, dir) =>
      // minhash (128 hashes, 64 bands x 2) -> bucket join -> exact verify;
      // at threshold 0.5 recall is 1-1e-8 -> equals the exhaustive oracle
      TextDedup.minhashLshPairs(t(s, dir, "documents"), threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("j"))
        .orderBy("a", "b")
    },

    Query("q_simhash", simhashOracle) { (s, dir) =>
      // oracle-gated: the md5-bit signature is recomputed in DuckDB SQL
      // (strpos/bit algebra), pairs verified via xor + bit_count
      TextDedup.simhashPairs(t(s, dir, "documents"), maxHamming = 8)
        .orderBy("a", "b")
    },

    // ---- training-data operators: text analysis -------------------------

    Query("q_token_count",
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.wordCount(col("text")).as("n_words"))
        .orderBy("doc_id")
    },

    Query("q_lang_id", langIdOracle) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    Query("q_quality", qualityOracle) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityBp(col("text")).as("quality_bp"))
        .orderBy("doc_id")
    },

    Query("q_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  md5(list_aggregate(list_sort(list_distinct(
        |    string_split_regex(lower(text), '\s+'))), 'string_agg', ' ')) AS vfp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.vocabFingerprint(col("text")).as("vfp"))
        .orderBy("doc_id")
    },

    // ---- training-data operators: similarity search ---------------------

    Query("q_ann_topk",
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(d.embedding AS DOUBLE[])) DESC,
        |      d.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings d ON d.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    },

    Query("q_embedding_neardup",
      """SELECT a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.4)
        .select(col("a"), col("b"))
        .orderBy("a", "b")
    },

    Query("q_ann_lsh", annLshOracle) { (s, dir) =>
      // oracle-gated: the seeded hyperplanes are inlined into the DuckDB
      // oracle as double literals; identical left-to-right double arithmetic
      // gives identical sign bits, so candidate sets match exactly
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64, tables = 16, nbits = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    },

    Query("q_ann_ivf",
      """WITH cent AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings WHERE vec_id % 10 = 0
        |), scored AS (
        |  SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS ccos
        |  FROM embeddings e CROSS JOIN cent c
        |), assign AS (
        |  SELECT id AS neighbor_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id
        |      ORDER BY ccos DESC, cid) AS r FROM scored)
        |  WHERE r = 1
        |), probes AS (
        |  SELECT id AS query_id, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id
        |      ORDER BY ccos DESC, cid) AS r FROM scored WHERE id < 10)
        |  WHERE r <= 4
        |), cand AS (
        |  SELECT DISTINCT p.query_id, a.neighbor_id
        |  FROM probes p JOIN assign a ON p.cid = a.cid
        |  WHERE a.neighbor_id <> p.query_id)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                             CAST(ce.embedding AS DOUBLE[])) DESC,
        |      cand.neighbor_id) AS rank
        |  FROM cand
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      // inverted-file ANN: deterministic coarse centroids (every 10th id),
      // probe the 4 nearest clusters, exact rank within candidates — the
      // oracle rebuilds the same inverted lists in SQL
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
        centroidStride = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    },

    Query("q_ann_ivf_lloyd", ivfLloydOracle) { (s, dir) =>
      // IVF with one deterministic Lloyd refinement of the stride seed —
      // the oracle reproduces the k-means iteration in SQL: same argmax
      // assignment (cosine DESC, cid ASC tie), same per-dimension
      // round(avg, 8)-then-float centroid update, then the standard
      // inverted-list probe against the REFINED centroids
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
        centroidStride = 10, nprobe = 4, lloydIters = 1)
        .orderBy("query_id", "rank")
    },

    // ---- multimodal plumbing (decode stubbed, Spark plumbing real) -------

    Query("q_multimodal",
      """SELECT kind, count(*) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |FROM (SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |             WHEN 1 THEN 'audio' ELSE 'video' END AS kind, text
        |      FROM documents)
        |GROUP BY kind ORDER BY kind""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
        .orderBy("kind")
    },

    // ---- connector and replay lanes end-to-end --------------------------

    Query("q_kv_modes",
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'R'
        |       ELSE (CASE WHEN c_custkey % 2 = 0 THEN 'seeded' ELSE c_name END)
        |            || (CASE WHEN c_custkey % 3 = 0 THEN '+A' ELSE '' END)
        |  END AS v
        |FROM customer ORDER BY k""".stripMargin) { (s, dir) =>
      // KV writer mode semantics end-to-end against the wire-free store
      // (unique keys per pass keep every mode order-independent, so the
      // final store is deterministic): seed even keys, Add lands only the
      // absent odd keys, Append suffixes every third key, ReplaceExisting
      // then overwrites every fifth — the reference's ocs/mongo/hbase
      // write-mode ladder as one checkable state
      import graft.sources.KvSink
      val name = "q_kv_modes-" + java.util.UUID.randomUUID.toString
      val cust = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
      def client() = KvSink.InMemoryKvStore.client(name)
      // seed through the distributed writer itself (Set mode, executor-side
      // foreachPartition) — the query stays scale-shaped like the operator
      // it gates; a driver collect() here would cap the seed at driver heap
      KvSink.write(cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit("seeded").as("v")),
        Seq("c_custkey"), Seq("v"), KvSink.Set, () => client())
      KvSink.write(cust, Seq("c_custkey"), Seq("c_name"), KvSink.Add, () => client())
      KvSink.write(cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), lit("+A").as("sfx")),
        Seq("c_custkey"), Seq("sfx"), KvSink.Append, () => client())
      KvSink.write(cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), lit("R").as("v")),
        Seq("c_custkey"), Seq("v"), KvSink.ReplaceExisting, () => client())
      import scala.jdk.CollectionConverters._
      val entries = KvSink.InMemoryKvStore.store(name).entrySet().asScala
        .map(e => (e.getKey.toLong, e.getValue)).toSeq
      KvSink.InMemoryKvStore.clear(name)
      import s.implicits._
      entries.toDF("k", "v").orderBy("k")
    },

    Query("q_dirty_replay",
      """WITH dirty AS (
        |  SELECT 'conv_id_null' AS reason, event_id AS lsn
        |  FROM events WHERE event_id % 97 = 0)
        |SELECT reason, lsn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY reason ORDER BY lsn) AS rn
        |  FROM dirty)
        |WHERE rn <= 40 ORDER BY reason, lsn""".stripMargin) { (s, dir) =>
      // the dirty-record REPLAY lane end-to-end: plant null conv_ids, let
      // the pipeline quarantine deterministic per-reason samples (capped at
      // dirtySampleN, ordered by lsn), then re-feed the quarantine through
      // the real job layer (dirtyreader -> parquetwriter) and gate the
      // replayed rows — reason column included — against SQL reproducing
      // the rule, the cap and the ordering
      val ev = instantChangelog(s, dir).withColumn("conv_id",
          when(col("lsn") % 97 === 0, lit(null)).otherwise(col("conv_id")))
      val work = scratchDir("graft-dirtyq")
      val table = SnapTable.create(s, s"$work/t", Schemas.payloadV2, numBuckets = 16)
      CdcPipeline.applyBatch(table, ev, epoch = 0,
        graft.cdc.PipelineOptions(
          errorLimit = ErrorLimit(record = None, percentage = Some(0.5)),
          dirtySampleN = 40))
      val job = s"""{"job": {"content": [{
        "reader": {"name": "dirtyreader",
                   "parameter": {"path": "$work/t", "epoch": 0}},
        "writer": {"name": "parquetwriter",
                   "parameter": {"path": "$work/replay", "writeMode": "truncate"}}}]}}"""
      val rep = graft.job.Job.run(s, job)
      require(rep.error.isEmpty, s"dirty replay job failed: ${rep.error}")
      s.read.parquet(s"$work/replay")
        .select(col(Dirty.ReasonCol).as("reason"), col("lsn"))
        .orderBy("reason", "lsn")
    },

    Query("q_seq_rc",
      """SELECT * FROM (
        |  SELECT 'seq' AS src, CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
        |  UNION ALL
        |  SELECT 'rc' AS src, CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
        |) ORDER BY src, n_nationkey""".stripMargin) { (s, dir) =>
      // the two remaining hdfsreader formats end-to-end: the nation dim
      // (25 rows — a bounded driver-side write) lands as a SequenceFile
      // (Text lines) and an RCFile (columnar cells); readAuto must sniff
      // BOTH from magic bytes and project them through the typed specs
      import graft.sources.TypedFileSource
      import graft.sources.TypedFileSource.{ColumnSpec, CsvConfig}
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val work = scratchDir("graft-seqrc")
      val conf = s.sparkContext.hadoopConfiguration
      locally { // SEQ: k|name lines
        val w = org.apache.hadoop.io.SequenceFile.createWriter(conf,
          org.apache.hadoop.io.SequenceFile.Writer.file(
            new org.apache.hadoop.fs.Path(s"$work/seq/part-00000.seq")),
          org.apache.hadoop.io.SequenceFile.Writer.keyClass(
            classOf[org.apache.hadoop.io.LongWritable]),
          org.apache.hadoop.io.SequenceFile.Writer.valueClass(
            classOf[org.apache.hadoop.io.Text]))
        rows.zipWithIndex.foreach { case ((k, n), i) =>
          w.append(new org.apache.hadoop.io.LongWritable(i.toLong),
            new org.apache.hadoop.io.Text(s"$k|$n"))
        }
        w.close()
      }
      locally { // RC: columnar cells
        val rconf = new org.apache.hadoop.conf.Configuration(conf)
        org.apache.hadoop.hive.ql.io.RCFileOutputFormat.setColumnNumber(rconf, 2)
        val p = new org.apache.hadoop.fs.Path(s"$work/rc/part-00000.rc")
        val w = new org.apache.hadoop.hive.ql.io.RCFile.Writer(p.getFileSystem(rconf), rconf, p)
        rows.foreach { case (k, n) =>
          val row = new org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable(2)
          def cell(v: String) = {
            val b = v.getBytes("UTF-8")
            new org.apache.hadoop.hive.serde2.columnar.BytesRefWritable(b, 0, b.length)
          }
          row.set(0, cell(k.toString)); row.set(1, cell(n)); w.append(row)
        }
        w.close()
      }
      val cols = Seq(
        ColumnSpec(index = Some(0), `type` = "long", name = Some("n_nationkey")),
        ColumnSpec(index = Some(1), `type` = "string", name = Some("n_name")))
      val seq = TypedFileSource.readAuto(s, Seq(s"$work/seq"), cols,
          CsvConfig(fieldDelimiter = "|"))
        .select(lit("seq").as("src"), col("n_nationkey"), col("n_name"))
      val rc = TypedFileSource.readAuto(s, Seq(s"$work/rc"), cols)
        .select(lit("rc").as("src"), col("n_nationkey"), col("n_name"))
      seq.unionByName(rc).orderBy("src", "n_nationkey")
    },

    // ---- CDC state, oracle-gated: the events table IS the changelog
    //      ([[changelog]]: event_id = lsn, synthesized op). Each query drives
    //      it through one engine path and reads the table state back; all
    //      nine are gated on the same DuckDB window-rank LWW oracle
    //      ([[cdcStateOracle]]). Reference analogue: otsstreamreader/.../
    //      core/RecordProcessor.java:186-248 (change-stream tail -> state).

    // flagship: the REAL streaming path (multi-epoch foreachBatch,
    // checkpoint, dirty gate, LWW dedup, bucketed snapshot MERGE)
    cdcState("q_cdc_pipeline", streamed = true) { (s, chg) =>
      streamReplay(s, Seq(chg), filesPerPart = 16, Schemas.payloadV2, "cow")
    },

    // merge-on-read variant: O(batch) delta commits, NO compaction before
    // the read — the read-time LWW reduce must reproduce the same oracle
    // state as the copy-on-write path
    cdcState("q_cdc_pipeline_mor", streamed = true) { (s, chg) =>
      streamReplay(s, Seq(chg), filesPerPart = 16, Schemas.payloadV2, "mor")
    },

    // explicit merge-on-read compaction: two delta epochs, then compact()
    // folds every delta into base files — state must be invariant and no
    // deltas may remain
    cdcState("q_mor_compact") { (s, chg) =>
      val half = maxLsn(chg) / 2
      val table = tempTable(s)
      val opts = graft.cdc.PipelineOptions(mergeMode = "mor",
        morCompactDeltasPerBucket = Int.MaxValue) // no auto-compaction
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") < half), epoch = 0, opts)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") >= half), epoch = 1, opts)
      require(table.deltaFileCount > 0, "setup should leave deltas")
      table.compact(s)
      require(table.deltaFileCount == 0, "compact must fold every delta")
      table.read(s)
    },

    // retention GC: three commits, keep only the newest snapshot — old
    // manifests and orphaned files go away, current state is invariant
    cdcState("q_expire") { (s, chg) =>
      val third = maxLsn(chg) / 3
      val table = tempTable(s)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") < third), epoch = 0)
      CdcPipeline.applyBatch(table,
        chg.filter(col("lsn") >= third && col("lsn") < 2 * third), epoch = 1)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") >= 2 * third), epoch = 2)
      val (snapsGone, _) = table.expireSnapshots(keepLast = 1)
      require(snapsGone >= 2, s"expected >=2 expired manifests, got $snapsGone")
      table.read(s)
    },

    // snapshot isolation / time travel: two lsn-split epochs, then read
    // the RETAINED OLD version — its state must equal the LWW reduction
    // of only the first half's changes, byte-for-byte, regardless of the
    // second commit existing
    cdcState("q_time_travel", firstHalfOnly = true) { (s, chg) =>
      val half = maxLsn(chg) / 2
      val table = tempTable(s)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") < half), epoch = 0)
      val v1 = table.currentVersion
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") >= half), epoch = 1)
      table.readVersion(s, v1)
    },

    // layout evolution: rewrite the table from 8 into 32 buckets (the
    // growth path when buckets outgrow task-sized units), then merge one
    // more epoch UNDER THE NEW LAYOUT — state must be invariant
    cdcState("q_rebucket") { (s, chg) =>
      val half = maxLsn(chg) / 2
      val table = tempTable(s, buckets = 8)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") < half), epoch = 0)
      table.rebucket(s, 32)
      CdcPipeline.applyBatch(table, chg.filter(col("lsn") >= half), epoch = 1)
      table.read(s)
    },

    // lake-to-lake incremental replication end-to-end: the source table is
    // built in TWO epochs split by lsn, and Sync.sync runs after EACH —
    // the second round must deliver exactly the changes past the dest's
    // own manifest-derived watermark (no side-channel state); a third
    // round must be a metadata-only no_change. Dest state == source LWW
    // state.
    cdcState("q_sync_table") { (s, chg) =>
      val half = maxLsn(chg) / 2
      val (src, dst) = (tempTable(s), tempTable(s))
      CdcPipeline.applyBatch(src, chg.filter(col("lsn") < half), epoch = 0)
      require(graft.cdc.Sync.sync(s, src, dst).result == "committed")
      CdcPipeline.applyBatch(src, chg.filter(col("lsn") >= half), epoch = 1)
      require(graft.cdc.Sync.sync(s, src, dst).result == "committed")
      require(graft.cdc.Sync.sync(s, src, dst).result == "no_change")
      dst.read(s)
    },

    // lake -> RDBMS fan-out, end-to-end: replay the events changelog into a
    // snapshot table (batch merge), sync its change feed to an embedded
    // Derby serving table (LWW pre-reduce, delete+insert apply, in-DB
    // watermark), then read the SERVING DATABASE back
    cdcState("q_sync_jdbc") { (s, chg) =>
      import graft.sources.JdbcDialect
      val table = tempTable(s)
      CdcPipeline.applyBatch(table, chg, epoch = 0)
      val db = "graftsyncq" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db"
      val connect = () => java.sql.DriverManager.getConnection(s"$url;create=true")
      val r = graft.cdc.Sync.toJdbc(s, table, connect, "serving")
      require(r.result == "committed", s"sync returned $r")
      s.read.jdbc(url, "serving", JdbcDialect.readerProps(JdbcDialect.Derby, "app", "app"))
        .withColumn("turn_idx", col("turn_idx").cast("int"))
    },

    // mid-stream schema evolution through the REAL pipeline (SURVEY.md
    // §4.4): the changelog's low-lsn files are written WITHOUT the tool
    // column (payload v1) and the high-lsn files carry it; the table is
    // created at payload v1 and must evolve during the replay, with v1-file
    // winners surfacing tool = null
    cdcState("q_cdc_schema_evo", tool = true, streamed = true) { (s, chg) =>
      val half = maxLsn(chg) / 2
      val toolOf = concat(col("role"), lit("#"), pmod(col("lsn"), lit(7)).cast("string"))
      streamReplay(s, Seq(chg.filter(col("lsn") < half).drop("tool"),
          chg.filter(col("lsn") >= half).withColumn("tool", toolOf)),
        filesPerPart = 4, Schemas.payloadV1, "cow")
    }
  )

  /** Name-keyed view of [[registry]] as frames ([[Query.frame]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.frame _)).toMap

  // ---------------------------------------------------------------------
  // CDC state: one changelog, one projection, one oracle
  // ---------------------------------------------------------------------

  /** The `events` fixture reinterpreted as a CDC changelog of the
    * transcript envelope: event_id is the LSN, (user_id, event_id % 50) the
    * merge key, and every 17th event a delete. Deterministic and 1:1
    * SQL-expressible (the `chg` CTE of [[cdcStateOracle]] mirrors it), so
    * every query replaying it is DuckDB-oracle-gated. `ts` keeps the type
    * parquet gives it: TIMESTAMP_NTZ (pyarrow's `timestamp[us]`, read by
    * Spark 4 NTZ inference). */
  private def changelog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("user_id").cast("string").as("conv_id"),
      pmod(col("event_id"), lit(50)).cast("int").as("turn_idx"),
      col("event_type").as("role"),
      col("props").as("text"),
      lit(null).cast("string").as("tool"),
      col("ts"),
      col("event_id").as("lsn"),
      when(pmod(col("event_id"), lit(17)) === 0, "D").otherwise("U").as("op"))

  /** [[changelog]] with `ts` cast to the table envelope's instant type (the
    * same micros under the UTC session), as the batch apply needs it. */
  private def instantChangelog(s: SparkSession, dir: String): DataFrame =
    changelog(s, dir).withColumn("ts", col("ts").cast("timestamp"))

  /** A CDC-state entry: `build` applies the changelog through one engine
    * path and returns the live state it reads back; the entry projects that
    * state (plus `tool` when set) in key order and is gated on
    * [[cdcStateOracle]] with the same options. `streamed` entries get
    * [[changelog]] as parquet types it and write it as log files, so the
    * stream source's envelope-schema read is what converts its NTZ `ts`;
    * the others get [[instantChangelog]]. */
  private def cdcState(name: String, firstHalfOnly: Boolean = false, tool: Boolean = false,
      streamed: Boolean = false)(build: (SparkSession, DataFrame) => DataFrame): Query =
    Query(name, cdcStateOracle(firstHalfOnly, tool)) { (s, dir) =>
      val cols = Seq(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        unix_micros(col("ts")).as("ts_us"), col("lsn")) ++ (if (tool) Seq(col("tool")) else Nil)
      val chg = if (streamed) changelog(s, dir) else instantChangelog(s, dir)
      build(s, chg).select(cols: _*).orderBy("conv_id", "turn_idx")
    }

  /** DuckDB oracle of the CDC-state entries: [[changelog]] as the `chg`
    * CTE, then the window-rank LWW winner per merge key, tombstones
    * dropped. `firstHalfOnly` keeps the changes below half the max lsn (the
    * first of two epochs); `tool` adds the column `q_cdc_schema_evo`
    * writes into the high-lsn half of its changelog. */
  private def cdcStateOracle(firstHalfOnly: Boolean, tool: Boolean): String = {
    val half = "(SELECT max(event_id) FROM events) // 2"
    val toolDef = if (!tool) "" else
      s""",
         |         CASE WHEN event_id >= $half
         |              THEN event_type || '#' || CAST(event_id % 7 AS VARCHAR)
         |              ELSE NULL END AS tool"""
    val cut = if (firstHalfOnly) s"\n  WHERE event_id < $half" else ""
    val toolOut = if (tool) ", tool" else ""
    s"""WITH chg AS (
       |  SELECT CAST(user_id AS VARCHAR) AS conv_id,
       |         CAST(event_id % 50 AS INT) AS turn_idx,
       |         event_type AS role, props AS text, ts, event_id AS lsn,
       |         CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op$toolDef
       |  FROM events$cut)
       |SELECT conv_id, turn_idx, role, text, epoch_us(ts) AS ts_us, lsn$toolOut
       |FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
       |        ORDER BY ts DESC, lsn DESC) AS rn FROM chg)
       |WHERE rn = 1 AND op <> 'D'
       |ORDER BY conv_id, turn_idx""".stripMargin
  }

  private def maxLsn(chg: DataFrame): Long = chg.agg(max("lsn")).head().getLong(0)

  /** An empty payload-v2 snapshot table in a fresh temp dir. */
  private def tempTable(s: SparkSession, buckets: Int = 16): SnapTable =
    SnapTable.create(s, scratchDir("graft-q"),
      Schemas.payloadV2, numBuckets = buckets)

  /** Writes `parts` in order as changelog files (`filesPerPart` each), then
    * drains them into a fresh `schema` table through the REAL streaming
    * path, 4 files per trigger; returns the table's live state. */
  private def streamReplay(s: SparkSession, parts: Seq[DataFrame], filesPerPart: Int,
      schema: StructType, mode: String): DataFrame = {
    val work = scratchDir("graft-cdcq")
    parts.foreach(_.repartition(filesPerPart).write.mode("append").parquet(s"$work/log"))
    val table = SnapTable.create(s, s"$work/table", schema, numBuckets = 16)
    CdcPipeline.stream(s, s"$work/log", table, s"$work/ckpt",
      graft.cdc.PipelineOptions(maxFilesPerTrigger = 4, mergeMode = mode)).awaitTermination()
    table.read(s)
  }

  // ---------------------------------------------------------------------
  // Generated and shared DuckDB oracles
  // ---------------------------------------------------------------------

  /** Last writer per (user_id, event_type) by (ts, event_id): the oracle of
    * `q_cdc_lww` and of its salted twin, which must agree bit for bit. */
  private val lwwOracle: String =
    """SELECT user_id, event_type, event_id AS last_event_id,
      |  epoch_us(ts) AS ts_us,
      |  CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS last_value_q4
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** IVF-with-Lloyd oracle: replays [[graft.operators.Similarity.ivfTopK]]'s
    * single k-means iteration in SQL — stride seed, cosine-argmax assignment
    * (ties broken toward the smaller cid, like `max_by(cid, struct(ccos,
    * -cid))`), per-dimension `round(avg(double), 8)` means cast to FLOAT
    * (bit-identical to Spark's `array(round(avg(...), 8)*).cast
    * ("array<float>")` — a 1-ulp rounding disagreement would shift a
    * centroid by 1e-8, far below any cosine ordering gap) — then the
    * standard inverted-list probe against the refined centroids. The 64
    * per-dimension mean expressions are generated, DuckDB lists are
    * 1-based. */
  private val ivfLloydOracle: String = {
    val dim = 64
    val means = (0 until dim).map(i =>
      s"CAST(ROUND(AVG(CAST(v[${i + 1}] AS DOUBLE)), 8) AS FLOAT)")
      .mkString(",\n      ")
    s"""WITH cent0 AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
       |  FROM embeddings WHERE vec_id % 10 = 0
       |), scored0 AS (
       |  SELECT e.vec_id AS id, e.embedding AS v, c.cid,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS ccos
       |  FROM embeddings e CROSS JOIN cent0 c
       |), assign0 AS (
       |  SELECT id, v, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id
       |      ORDER BY ccos DESC, cid) AS r FROM scored0)
       |  WHERE r = 1
       |), cent AS (
       |  SELECT cid, [
       |      $means] AS cvecf
       |  FROM assign0 GROUP BY cid
       |), scored AS (
       |  SELECT e.vec_id AS id, c.cid,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                           CAST(c.cvecf AS DOUBLE[])) AS ccos
       |  FROM embeddings e CROSS JOIN cent c
       |), assign AS (
       |  SELECT id AS neighbor_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id
       |      ORDER BY ccos DESC, cid) AS r FROM scored)
       |  WHERE r = 1
       |), probes AS (
       |  SELECT id AS query_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id
       |      ORDER BY ccos DESC, cid) AS r FROM scored WHERE id < 10)
       |  WHERE r <= 4
       |), cand AS (
       |  SELECT DISTINCT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE a.neighbor_id <> p.query_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
       |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                             CAST(ce.embedding AS DOUBLE[])) DESC,
       |      cand.neighbor_id) AS rank
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Exhaustive word-3-gram jaccard pairs >= 0.5 — oracle for both the exact
    * and the minhash-LSH variant (LSH recall at 0.5 is 1-1e-8 with 64x2
    * bands). */
  private val jaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, text, string_split_regex(text, '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)])
      |    ELSE [text] END AS g
      |  FROM toks
      |), ex AS (SELECT doc_id, unnest(g) AS shingle FROM sh),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), sz AS (SELECT doc_id, len(g) AS sz FROM sh)
      |SELECT a, b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS j
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
      |ORDER BY a, b""".stripMargin

  private def hitsSql(lang: String): String = {
    val words = graft.operators.TextAnalysis.stopwords(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ($words)))"
  }

  private val langIdOracle: String = {
    val langs = graft.operators.TextAnalysis.stopwords.keys.toSeq.sorted
    val structs = langs.zipWithIndex.map { case (l, i) =>
      s"{'hits': ${hitsSql(l)}, 'nrank': ${-i}, 'lang': '$l'}"
    }.mkString(", ")
    s"""SELECT doc_id, lang,
       |  CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, lang, list_max([$structs]) AS best FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** SimHash pairs oracle: recomputes the md5-bit signature in SQL (bit j =
    * bit j%4 of hex digit j/4+1 of md5(token)), then the full pair join with
    * xor + bit_count — exact, no pigeonhole pruning needed at oracle scale.
    * q_simhash runs at maxHamming=8, which [[graft.operators.TextDedup
    * .simhashPairs]] auto-widens to the 120-bit two-half signature (chunk
    * keys stay >= 12 bits); the oracle mirrors it as two 60-bit BIGINTs. */
  private val simhashOracle: String = {
    val bits = graft.operators.TextDedup.SimhashWideBits
    val maxHamming = 8
    val sums = (0 until bits).map { j =>
      val digit = j / 4 + 1
      val b = j % 4
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, $digit, 1)) - 1) >> $b) & 1 = 1" +
        s" THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    def assemble(range: Range, base: Int): String = range.map(j =>
      s"(CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << ${j - base}) ELSE 0 END)").mkString(" + ")
    val ham = "bit_count(xor(a.sig0, b.sig0)) + bit_count(xor(a.sig1, b.sig1))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
       |  FROM documents
       |), hs AS (SELECT doc_id, md5(tok) AS h FROM toks
       |), sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM hs GROUP BY doc_id
       |), sig AS (SELECT doc_id, ${assemble(0 until 60, 0)} AS sig0,
       |    ${assemble(60 until bits, 60)} AS sig1 FROM sums)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST($ham AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE $ham <= $maxHamming
       |ORDER BY a, b""".stripMargin
  }

  /** ANN-LSH oracle: the seeded hyperplanes inlined as double literals; the
    * projection is written as the same left-to-right double sum Spark
    * computes, so sign bits (and hence buckets and candidates) are
    * bit-identical; rank within candidates by exact cosine. */
  private val annLshOracle: String = {
    val (tables, nbits, dim, seed, k) = (16, 4, 64, 42L, 5)
    val planes = graft.operators.Similarity.hyperplanes(tables, nbits, dim, seed)
    def proj(t: Int, b: Int): String =
      (0 until dim).map(d =>
        s"CAST(embedding[${d + 1}] AS DOUBLE) * (${planes(t)(b)(d)})").mkString(" + ")
    def bkt(t: Int): String =
      (0 until nbits).map(b =>
        s"(CASE WHEN ${proj(t, b)} >= 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
    val branches = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, CAST(${bkt(t)} AS INT) AS bkt FROM embeddings")
      .mkString("\nUNION ALL\n")
    s"""WITH bkts AS (
       |$branches
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bkts q JOIN bkts c ON q.tbl = c.tbl AND q.bkt = c.bkt
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                             CAST(ce.embedding AS DOUBLE[])) DESC,
       |      neighbor_id) AS rank
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private val qualityOracle: String = {
    val langs = graft.operators.TextAnalysis.stopwords.keys.toSeq.sorted
    val hitsAll = langs.map(hitsSql).mkString(" + ")
    s"""SELECT doc_id, CAST(floor((
       |    least(1.0, chars / 200.0) +
       |    CASE WHEN nw > 0 AND (chars - nw + 1) / nw >= 3
       |              AND (chars - nw + 1) / nw <= 12 THEN 1.0 ELSE 0.0 END +
       |    (1.0 - least(1.0, punct / greatest(chars / 10.0, 1.0))) +
       |    least(1.0, hits / 5.0)
       |  ) / 4.0 * 10000 + 0.5) AS INT) AS quality_bp
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS nw,
       |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
       |         AS DOUBLE) AS punct,
       |    CAST($hitsAll AS DOUBLE) AS hits
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }
}
