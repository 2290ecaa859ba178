package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.registry query's result → parquet, in
  * registry order, plus oracle_sql.json, for the DuckDB compare
  * (`tools/check_oracles.py <sfDir> <outDir>`). The session is the
  * engine's own (`GraftSession`) at `SPARK_GRAFT_CPUS` cores, so the gated
  * outputs come from the production configuration. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry.foreach { q =>
      try q.run(spark, sfDir)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in oracle SQL would otherwise make json.load fail and
    // lose every query's check at once.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry
      .map(e => s"${q(e.name)}: ${q(e.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
