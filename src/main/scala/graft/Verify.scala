package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional subset for local iteration; the correctness gate leaves
    // it unset and runs the full suite.
    val only = EngineSession.only()
    // shared engine config — the measured config is the shipped config
    // ([[EngineSession]], r12 verdict #10); the floor is runtime-only
    // (AQE scheduling), so optimized plan fingerprints are unaffected
    val spark = EngineSession.builder(EngineSession.cpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logs.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    EngineSession.selected(only).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
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
    // null-guard: an oracle string that is null (object-init ordering
    // bugs) must surface as a missing oracle, not NPE the whole dump
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)) && kv._2 != null)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
