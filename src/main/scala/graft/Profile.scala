package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job/stage timeline profiler — the measuring stick for the
  * weak-row (≥4.5 s at driver parallelism) tuning work: fixed-iteration
  * fixpoints chain 5–15 jobs over kilobyte frames, and whether the
  * floor is task-launch overhead (many tiny tasks per stage), job
  * scheduling (many tiny jobs), or a genuinely heavy stage is invisible
  * from wall-clock alone (the UI is disabled in bench runs).
  *
  * Usage: runMain graft.Profile <queryName> [sfDir]
  * Env: SPARK_GRAFT_CPUS (defaults to host), SPARK_GRAFT_PROFILE_RUNS.
  *
  * Prints one line per stage (submit-relative ms, duration, task
  * count, name) plus a job-count / task-count / wall summary, after a
  * warm run and the same isolation Bench uses — numbers here are
  * directly comparable to clean-isolated bench times.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // shared engine config (incl. the coalesce floor) so profiles map
    // 1:1 to bench stages — [[EngineSession]], r12 verdict #10
    val spark = EngineSession.builder(EngineSession.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logs.quietWindowWarnings()
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))
    def runOnce(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // warm run (planning + codegen + parquet footer cache), then the
    // same isolation Bench applies before its measured run
    runOnce()
    EngineSession.isolate(spark)

    // SPARK_GRAFT_PROFILE_DETAILS=1 appends each stage's callsite stack
    // head — the lazily-executed AQE stages all print the same
    // CompletableFuture name, so the details are the only way to map a
    // hot stage back to source.
    val wantDetails = sys.env.get("SPARK_GRAFT_PROFILE_DETAILS").contains("1")
    case class St(id: Int, tasks: Int, sub: Long, done: Long, name: String,
      details: String = "")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.add(St(si.stageId, si.numTasks,
          si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
          si.name.takeWhile(_ != '\n'),
          if (wantDetails)
            si.details.linesIterator.filter(_.contains("graft"))
              .take(3).mkString(" | ")
          else ""))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
        jobs.add((e.jobId, e.time - t0))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val nRuns = sys.env.get("SPARK_GRAFT_PROFILE_RUNS")
      .flatMap(_.toIntOption).getOrElse(1).max(1)
    (1 to nRuns).foreach(_ => runOnce())
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // listener bus drain
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val ss = stages.asScala.toSeq.filter(_.sub > 0).sortBy(_.sub)
    val base = ss.headOption.map(_.sub).getOrElse(0L)
    println(f"== $name: wall ${wall}%.3f s, ${jobs.size} jobs, ${ss.size} stages, ${ss.map(_.tasks).sum} tasks ==")
    val byTasks = ss.groupBy(_.tasks).toSeq.sortBy(-_._2.size).take(8)
      .map { case (t, g) => s"$t tasks x${g.size}" }.mkString(", ")
    println(s"   stage task-count histogram: $byTasks")
    ss.foreach { s =>
      val dur = s.done - s.sub
      println(f"   +${s.sub - base}%6d ms  ${dur}%6d ms  ${s.tasks}%4d tasks  stage ${s.id}%4d  ${s.name.take(80)}")
      if (wantDetails && s.details.nonEmpty) println(s"        ${s.details.take(200)}")
    }
    val jd = jobs.asScala.toSeq.sortBy(_._1)
    println(s"   job durations ms: ${jd.map(_._2).mkString(", ")}")
    spark.stop()
  }
}
