package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The plan-dump main: builds each selected query once (light
  * [[EngineSession.isolate]] before each) and writes, per query, into
  * `outDir`:
  *  - `<name>.opt.txt`: the normalized optimized-plan text
  *    [[PlanFp.fingerprintOpt]] hashes ([[PlanFp.canonOptText]]);
  *  - `<name>.txt`: the formatted physical plan (`explain("formatted")`:
  *    pushdown, pruned schemas, join strategies, codegen stages);
  *  - one `fps.txt` line `name fp`, the fp being the `md5_12` of that
  *    `.opt.txt` text (what Bench's `plans_opt` records), or `name err`
  *    when the query's build or dump threw.
  * Eager localCheckpoints still run during construction, so the fps are
  * taken post-construction and pre-warm, exactly like Bench's.
  *
  * A before/after plan check is two runs into two out dirs at the same
  * `SPARK_GRAFT_CPUS` (plans depend on it): `diff` the `fps.txt` files
  * and the `.opt.txt` files.
  *
  * Usage: runMain graft.Explain [sfDir] [outDir]
  * (defaults: the sf0.001 test data and `explain` in the temp dir).
  * Env: SPARK_GRAFT_ONLY (subset), SPARK_GRAFT_CPUS.
  * Exits 1 when any query failed; a failed file write fails the run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = Paths.get(args.lift(1).getOrElse("/tmp/explain"))
    val queries = EngineSession.selected(EngineSession.only())
    // the same treeString settings as Bench — a different cut point
    // prints different text for an identical plan
    val spark = EngineSession.start(
      EngineSession.fingerprintBuilder(EngineSession.cpus()))
    val failed = sweep(spark, queries, sfDir, outDir)
    println(s"[explain] ${queries.length} queries, ${failed.length} failed" +
      (if (failed.isEmpty) "" else failed.map(_._1).mkString(": ", ", ", "")))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Dump every query of `queries` into `outDir` (see [[Explain]]) and
    * return the failed ones, name → first message line (also printed
    * to stderr). A failed file write throws. */
  def sweep(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: Path): Seq[(String, String)] = {
    Files.createDirectories(outDir)
    val dumped = queries.map { case (name, fn) =>
      EngineSession.isolate(spark, full = false)
      // the optimized text first, before physical planning
      val texts = EngineSession.attempt(spark, fn, sfDir)(df =>
        (PlanFp.canonOptText(df), df.queryExecution.explainString(FormattedMode)))
      texts.foreach { case (opt, plan) =>
        Files.writeString(outDir.resolve(s"$name.opt.txt"), opt)
        Files.writeString(outDir.resolve(s"$name.txt"), plan)
      }
      texts.left.foreach(e => System.err.println(s"[explain] $name failed: $e"))
      name -> texts
    }
    val fps = dumped.map { case (name, texts) =>
      s"$name ${texts.fold(_ => "err", t => PlanFp.md5_12(t._1))}\n" }
    Files.writeString(outDir.resolve("fps.txt"), fps.mkString)
    dumped.collect { case (name, Left(e)) => name -> e }
  }
}
