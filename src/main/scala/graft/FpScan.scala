package graft

/** Fingerprint-only sweep (r11 verdict #2 — the flap hunter): construct
  * every `SparkEntry.queries` entry under the shared per-query
  * isolation ([[EngineSession.isolate]]), compute the
  * composition-stable optimized fp, and write one `name fp` line per
  * query (plus, with SPARK_GRAFT_FP_DUMP=<dir>, the normalized
  * optimized-plan text it hashes, one `<name>.opt.txt` per query, for
  * diffing). No warm runs, no measured runs, no noop writes — a
  * full-surface fp regen in minutes instead of a full bench, which is
  * what "three consecutive identical-code regens with stable fps" needs
  * to be a routine check.
  * Eager localCheckpoints still execute during construction (that is
  * the adjudicated condition — fps are taken post-construction,
  * pre-warm, exactly like Bench).
  *
  * Usage: runMain graft.FpScan [sfDir] [outFile]
  * Env: SPARK_GRAFT_ONLY (subset), SPARK_GRAFT_CPUS, SPARK_GRAFT_FP_DUMP.
  */
object FpScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/fpscan.txt")
    val only = EngineSession.only()
    // the same treeString settings as Bench — a different cut point
    // prints different text for an identical plan
    val spark = EngineSession.fingerprintBuilder(EngineSession.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logs.quietWindowWarnings()
    val fpDump = sys.env.get("SPARK_GRAFT_FP_DUMP")
    val lines = EngineSession.selected(only).map { case (name, fn) =>
      EngineSession.isolate(spark, full = false)
      val df0 = try Some(fn(spark, sfDir)) catch { case _: Throwable => None }
      val fpo = df0.map(PlanFp.fingerprintOpt).getOrElse("err")
      // the SAME normalized text fingerprintOpt hashes, so a flapping
      // fp can be diffed directly
      for (dir <- fpDump; df <- df0) {
        try {
          val pdir = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(pdir)
          java.nio.file.Files.writeString(pdir.resolve(s"$name.opt.txt"),
            try PlanFp.canonOptText(df) catch { case _: Throwable => "err" })
        } catch { case _: Throwable => () }
      }
      s"$name $fpo"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"[fpscan] ${lines.length} queries -> $outFile")
    spark.stop()
  }
}
