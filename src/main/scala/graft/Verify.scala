package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (oracle_sql.json still carries every query so
    // the DuckDB compare can run on the dumped subset); unset → all
    val only = SparkEntry.parseOnly(sys.env, SparkEntry.queries.keySet)
    val spark = SparkEntry.localSession(4)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.forall(_(q._1))).foreach { case (name, fn) =>
      // queries are independent: drop the previous query's persisted frames
      // so a late query isn't taxed by sixty earlier caches' eviction
      // pressure (same fix as Bench; the persists dedupe work WITHIN one
      // query only)
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an oracle's SQL would otherwise make every JSON
    * reader of `oracle_sql.json` reject the whole file. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
