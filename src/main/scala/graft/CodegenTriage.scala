package graft

/** Whole-stage-codegen health sweep: run every query with
  * `spark.sql.codegen.fallback=false` so a generated class that janino
  * cannot compile (e.g. "Code grows beyond 64 KB") FAILS loudly instead
  * of silently degrading to interpreted execution. In production Spark
  * recovers via the interpreted path and nothing errors — which is
  * exactly why an expression-heavy operator can ship with a 10×
  * per-row interpretation tax nobody sees (r9 verdict: one query's
  * 14k-line generated unit failed whole-stage compile mid-suite).
  *
  * Usage: runMain graft.CodegenTriage [sfDir]
  * Prints one line per query: OK / CODEGEN_FAIL / OTHER_FAIL, with a
  * summary count at the end. CODEGEN_FAIL lines are the work list.
  */
object CodegenTriage {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = EngineSession.only()
    val spark = EngineSession.builder(EngineSession.cpus("4"))
      // the point of the sweep: no silent interpreted fallback
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    logs.quietWindowWarnings()
    def isCodegen(e: Throwable): Boolean = {
      var t = e; var n = 0
      while (t != null && n < 20) {
        val s = t.getClass.getName + ": " + Option(t.getMessage).getOrElse("")
        if (s.contains("janino") || s.contains("InternalCompilerException") ||
            s.contains("grows beyond") || s.contains("Failed to compile") ||
            s.contains("CompileException")) return true
        t = t.getCause; n += 1
      }
      false
    }
    var bad = 0
    EngineSession.selected(only).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try {
        // sweep BOTH executed shapes: the noop write (all columns
        // materialized — the bench shape) and count() (aggressive
        // column pruning — the spec shape); the r9 fallback only
        // reproduced under the pruned count() plan
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        df.count()
        println(s"OK $name")
      } catch {
        case e: Throwable if isCodegen(e) =>
          bad += 1
          // isCodegen can match on a nested cause while the top-level
          // getMessage is null — guard like the OTHER_FAIL branch
          println(s"CODEGEN_FAIL $name :: " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        case e: Throwable =>
          println(s"OTHER_FAIL $name :: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
          if (sys.env.contains("SPARK_GRAFT_TRIAGE_TRACE")) {
            var t: Throwable = e; var n = 0
            while (t != null && n < 10) {
              println(s"  CAUSE ${t.getClass.getName}: " +
                Option(t.getMessage).getOrElse("").replace('\n', ' ').take(400))
              t.getStackTrace.take(12).foreach(f => println(s"    at $f"))
              t = t.getCause; n += 1
            }
          }
      }
    }
    println(s"CODEGEN_TRIAGE_DONE failures=$bad")
    spark.stop()
  }
}
