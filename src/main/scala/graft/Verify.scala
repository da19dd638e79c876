package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val queries = SparkEntry.queries
    // optional comma-separated name filter for targeted local re-proof
    // of entries under change; the driver's gate runs unfiltered.
    val names = Harness.select("SPARK_GRAFT_VERIFY_ONLY", queries.keys.toSeq.sorted)
    // the engine's real configuration (AQE, UTC, …), as Bench and tests use
    val spark = Engine.session("graft-verify", Harness.cpus(4))
    // data-dependent oracles (x_ivf_topk's trained centroids) must be
    // generated against the same sfDir the driver's DuckDB will read
    sys.props("graft.oracle.sfDir") = sfDir
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
