package graft
import java.nio.file.{Files, Paths}
import graft.functions.AgentText.escapeJson
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
    val spark = EngineSession.start(EngineSession.builder(EngineSession.cpus("4")))
    new java.io.File(outDir).mkdirs()
    EngineSession.selected(only).foreach { case (name, fn) =>
      EngineSession.attempt(spark, fn, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .left.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    // null-guard: an oracle string that is null (object-init ordering
    // bugs) must surface as a missing oracle, not NPE the whole dump.
    // Every control char is escaped: a tab or CR in an oracle's SQL
    // would otherwise make the oracle compare's json.load fail and
    // silently zero the correctness result.
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)) && kv._2 != null)
      .map { case (k, v) => s""""${escapeJson(k)}": "${escapeJson(v)}"""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
