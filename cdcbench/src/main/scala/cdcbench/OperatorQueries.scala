package cdcbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * The operator-queries workload: `SparkEntry.queries` minus a named
 * exclusion list, over the `documents` and `embeddings` tables in `data/`,
 * in one JIT-warm session. A query added to the registry is measured without
 * editing this file; only an exclusion needs a line here.
 */
object OperatorQueries {

  /** Queries left out, each with its reason. */
  val excluded: Map[String, String] = {
    def why(reason: String, qs: String*) = qs.map(_ -> reason)
    (why("plain Spark SQL: no graft module on its path",
        "q1_agg", "q_filter_project", "q_join_broadcast", "q_join_shuffle", "q_window_topk",
        "q_window_running", "q_sort_limit", "q_anti_join", "q_semi_join", "q_setop",
        "q_rollup", "q_distinct_agg", "q_event_window", "q_cast_ladder") ++
      why("cdc/table path: the CDC workloads measure it",
        "q_cdc_lww", "q_cdc_lww_salted", "q_dirty_gate", "q_cdc_pipeline",
        "q_cdc_pipeline_mor", "q_dirty_replay", "q_mor_compact", "q_expire",
        "q_time_travel", "q_rebucket", "q_sync_table", "q_cdc_schema_evo") ++
      why("job-lane DataX transforms: the job lane is not measured",
        "q_dx_substr", "q_dx_pad", "q_dx_replace", "q_dx_filter", "q_dx_script", "q_dx_map") ++
      why("connector lane (file, JDBC, KV): its only sandbox endpoints are local files and embedded Derby",
        "q_sniff_auto", "q_file_roundtrip", "q_orc_roundtrip", "q_jdbc_roundtrip",
        "q_ads_load", "q_kv_modes", "q_seq_rc", "q_sync_jdbc")).toMap
  }

  def selected: Seq[String] = SparkEntry.queries.keys.filterNot(excluded.contains).toSeq.sorted

  /** Output digests of the selected queries on `data/`, recorded from a run
    * whose outputs pass the DuckDB oracles (`tools/check_oracles.py`). */
  val pinned: Map[String, String] = Map(
    "q_ann_ivf" -> "50:809900852d39e340",
    "q_ann_ivf_lloyd" -> "50:cde995e538ab0d93",
    "q_ann_lsh" -> "50:b06b9350de4e4d85",
    "q_ann_topk" -> "50:6b90ce7b5c95625c",
    "q_dedup_exact" -> "20:d0669a178b547895",
    "q_embedding_neardup" -> "66:956ae21dfaeb68a1",
    "q_fingerprint" -> "500:1776d5b00be27d7e",
    "q_lang_id" -> "500:8fea2932cbf0234e",
    "q_minhash_lsh" -> "28:8c3eccef95dfece4",
    "q_multimodal" -> "3:07355de0f06361b8",
    "q_ngram_jaccard" -> "28:8c3eccef95dfece4",
    "q_ngram_prefix" -> "28:8c3eccef95dfece4",
    "q_quality" -> "500:dc232da0af734715",
    "q_simhash" -> "3153:55d20a62cdf2ac0b",
    "q_token_count" -> "500:563fb5d7caeed51e")

  /** Cells of a result row; floating-point values to 9 significant digits,
    * the precision the oracle comparison uses. */
  private def cells(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.9g"
    case s: scala.collection.Seq[_] => s.map {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case other => other
    }
    case other => other
  }

  def digestOf(rows: Array[Row]): Stats.Digest = Stats.digest(rows.map(cells))

  final case class Result(perQueryS: Map[String, Seq[Double]], timedWallS: Double, cpuS: Double,
      warmS: Double)

  def run(spark: SparkSession, dataDir: String, seed: Long, seconds: Int,
      outcome: Stats.Outcome): Result = {
    val qs = new scala.util.Random(seed).shuffle(selected)
    val warm0 = System.nanoTime()
    qs.foreach(q => Trace.span(s"warmup.$q")(scala.util.Try(SparkEntry.queries(q)(spark, dataDir).collect())))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val passes = math.max(1, seconds / 15)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    for (_ <- 0 until passes; q <- qs) {
      val tq = System.nanoTime()
      val out = scala.util.Try(Trace.span(s"query.$q")(SparkEntry.queries(q)(spark, dataDir).collect()))
      times(q) = times.getOrElse(q, Nil) :+ (System.nanoTime() - tq) / 1e9
      val got = out.map(digestOf(_).toString)
      outcome.attempt(got.toOption == pinned.get(q),
        s"$q: output digest ${got.getOrElse(out.failed.get.getMessage)}, pinned ${pinned.get(q)}")
    }
    Result(times.toMap, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9, warmS)
  }

  def metrics(r: Result, sessionS: Double): Seq[Metric] = {
    val per = r.perQueryS.toSeq.sortBy(_._1).map { case (q, ts) =>
      Metric(s"operators.query_s.$q", Stats.median(ts), "s", Some(ts.size))
    }
    Seq(
      Metric("query_total_s", per.map(_.value).sum, "s", Some(per.size),
        "sum of the per-query medians of the timed passes"),
      Metric("cpu_s", r.cpuS, "s"),
      Metric("setup_s", sessionS + r.warmS, "s", note = "session + the untimed warm pass")) ++ per
  }
}
