package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** One timed query's layer record: where the reported run's time went.
  * `constructS` is the first build's wall (eager checkpoints included);
  * the rest covers only the reported run — jobs, completed stages and
  * their tasks, summed executor run time, input / shuffle-write / spill
  * MB, the longest stage (ms, tasks, first `graft.` callsite frame
  * outside Bench, "" when Bench's write is the only one) and whether
  * whole-stage codegen fell back to interpreted execution. */
private[graft] final case class Layer(
    constructS: Double = 0.0, jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskS: Double = 0.0, scanMb: Double = 0.0, shuffleMb: Double = 0.0,
    spillMb: Double = 0.0, hotStageMs: Long = 0L, hotStageTasks: Int = 0,
    hotStageSite: String = "", codegenFallback: Boolean = false) {
  def json: String = {
    import Bench.r3
    s"""{"construct_s":${r3(constructS)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_s":${r3(taskS)},"scan_mb":${r3(scanMb)},"shuffle_mb":${r3(shuffleMb)},""" +
      s""""spill_mb":${r3(spillMb)},"hot_stage_ms":$hotStageMs,"hot_stage_tasks":$hotStageTasks,""" +
      s""""hot_stage_site":"${functions.AgentText.escapeJson(hotStageSite)}",""" +
      s""""codegen_fallback":$codegenFallback}"""
  }
}

/** Bench's one collector, registered once on its session: a listener
  * that attributes every job — and, through the job's stage ids, every
  * stage — to the run tag its submitting thread carried ([[tagged]]),
  * and an appender on the whole-stage-codegen logger that flags the
  * tag whose plan Spark compiled without codegen ("disabled for plan":
  * janino failed; "too long generated codes": past hugeMethodLimit,
  * logged at INFO). Untagged work is ignored, so warm runs and
  * fingerprints stay out. Listener events arrive asynchronously: call
  * [[drain]] once before reading any [[record]]. */
private[graft] final class LayerCollector(spark: SparkSession) extends SparkListener {
  private val key = "graft.bench.run"
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val layers = scala.collection.mutable.Map.empty[String, Layer]

  private def update(tag: String)(f: Layer => Layer): Unit =
    synchronized(layers(tag) = f(layers.getOrElse(tag, Layer())))

  private val appender = new AbstractAppender(
      s"graft-codegen-fallback-${System.identityHashCode(this)}", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (msg.startsWith("Whole-stage codegen disabled for plan") ||
          msg.startsWith("Found too long generated codes"))
        Option(spark.sparkContext.getLocalProperty(key))
          .foreach(update(_)(_.copy(codegenFallback = true)))
    }
  }
  locally {
    spark.sparkContext.addSparkListener(this)
    val logger = classOf[WholeStageCodegenExec].getName
    Configurator.setLevel(logger, Level.INFO)
    appender.start()
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getLoggerConfig(logger).addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Runs `body` with every job it submits tagged `tag`. */
  def tagged[A](tag: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(key, tag)
    try body finally spark.sparkContext.setLocalProperty(key, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { tag =>
      update(tag)(l => l.copy(jobs = l.jobs + 1))
      e.stageIds.foreach(stageTag.put(_, tag))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
    def mb(bytes: Long) = bytes / (1024.0 * 1024.0)
    Option(stageTag.get(si.stageId)).foreach(update(_) { l =>
      val hot = if (ms < l.hotStageMs) l else l.copy(hotStageMs = ms,
        hotStageTasks = si.numTasks, hotStageSite = si.details.linesIterator.map(_.trim)
          .find(f => f.startsWith("graft.") && !f.startsWith("graft.Bench")).getOrElse(""))
      hot.copy(stages = l.stages + 1, tasks = l.tasks + si.numTasks,
        taskS = l.taskS + m.executorRunTime / 1e3,
        scanMb = l.scanMb + mb(m.inputMetrics.bytesRead),
        shuffleMb = l.shuffleMb + mb(m.shuffleWriteMetrics.bytesWritten),
        spillMb = l.spillMb + mb(m.diskBytesSpilled + m.memoryBytesSpilled))
    })
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def record(tag: String, constructS: Double): Layer =
    synchronized(layers.getOrElse(tag, Layer()).copy(constructS = constructS))
}
