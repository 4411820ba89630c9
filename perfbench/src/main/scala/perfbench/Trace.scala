package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it, as (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) >= 1000)
      .map(p => p -> quantile(xs, p / 100.0))
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def secs(ns: Long): Double = ns / 1e9
}

/** One traced call: a layer boundary crossed from the benchmark's side. */
final case class Span(
    id: Long, name: String, startNs: Long, endNs: Long, parent: Long, req: String)

/** In-memory span recorder, written out once at the end of a traced run.
  * Disabled, it runs the wrapped code and records nothing. The parent of
  * a span is the innermost open span on the same thread. */
final class Tracer(val enabled: Boolean) {
  /** Spans are recorded only while active (a traced run alternates). */
  @volatile var active: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  /** Epoch anchor: Spark reports job times in epoch millis. */
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()

  def span[T](name: String, req: String)(f: => T): T =
    if (!(enabled && active)) f
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        open.set(parent)
        spans.add(Span(id, name, t0, System.nanoTime(), parent, req))
      }
    }

  /** Record a span measured elsewhere (e.g. a Spark job from the listener). */
  def add(name: String, startNs: Long, endNs: Long, parent: Long, req: String): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, startNs, endNs, parent, req))

  def epochMsToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spans recorded off the caller's thread (a server handler, a Spark
    * job) have no parent: give each the innermost span of the same
    * request whose interval holds its start. */
  def resolved: Seq[Span] = {
    val ss = all
    val byReq = ss.filter(_.req.nonEmpty).groupBy(_.req)
    ss.map { sp =>
      if (sp.parent != 0L || sp.req.isEmpty) sp
      else byReq(sp.req)
        .filter(c => c.id != sp.id && c.startNs <= sp.startNs && sp.startNs < c.endNs)
        .sortBy(c => (-c.startNs, c.endNs)).headOption
        .fold(sp)(c => sp.copy(parent = c.id))
    }
  }

  /** Self time per span name, in seconds: each span's duration minus
    * the part of it that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = resolved
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { sp =>
        val covered = children.getOrElse(sp.id, Nil).map { c =>
          math.max(0L, math.min(c.endNs, sp.endNs) - math.max(c.startNs, sp.startNs))
        }.sum
        Stats.secs(math.max(0L, sp.endNs - sp.startNs - covered))
      }.sum
    }
  }

  def write(path: String, summary: Seq[Metric]): Unit = {
    val ss = resolved
    val sb = new StringBuilder
    sb.append("{\"spans\": [\n")
    sb.append(ss.map { sp =>
      s"""{"id": ${sp.id}, "name": ${Json.str(sp.name)}, "start_ns": ${sp.startNs - nano0}, """ +
        s""""end_ns": ${sp.endNs - nano0}, "parent": ${sp.parent}, "req": ${Json.str(sp.req)}}"""
    }.mkString(",\n"))
    sb.append("\n],\n\"self_s\": ")
    sb.append(Json.obj(selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    sb.append(",\n\"layers\": ")
    sb.append(Json.obj(summary.map(m => m.name -> m.json)))
    sb.append("}\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}

/** Counters read from Spark's own listener interfaces, from outside the
  * engine: jobs, stages and tasks; job wall time; task run time versus
  * task overhead (duration minus run time); scan, shuffle and spill
  * bytes; and Catalyst analysis + optimization + planning time from
  * each query execution's phase tracker. Jobs carry the request id the
  * submitting thread set as the `perfbench.req` local property. */
final class SparkLayers extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val jobMs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskOverheadMs = new AtomicLong
  val scanBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planMs = new AtomicLong
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  /** (start epoch ms, end epoch ms, request id) per finished job. */
  val jobTimes = new ConcurrentLinkedQueue[(Long, Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(SparkLayers.ReqKey)))
    starts.put(e.jobId, (e.time, req.getOrElse("")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t0, req) =>
      jobMs.addAndGet(e.time - t0)
      jobTimes.add((t0, e.time, req))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskOverheadMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime))
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
  private def phases(qe: QueryExecution): Unit =
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  /** Hand the finished jobs to the tracer as `spark.job` spans. */
  def adopt(tracer: Tracer): Unit =
    jobTimes.asScala.foreach { case (s, e, req) =>
      tracer.add("spark.job", tracer.epochMsToNs(s), tracer.epochMsToNs(e), 0L, req)
    }

  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** The per-layer Spark metrics, each divided by `ops`. */
  def perOp(ops: Int): Seq[Metric] = {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Seq(
      Metric("spark.jobs", jobs.get / n, "count"),
      Metric("spark.stages", stages.get / n, "count"),
      Metric("spark.tasks", tasks.get / n, "count"),
      Metric("spark.plan_s", planMs.get / 1e3 / n, "s"),
      Metric("spark.job_s", jobMs.get / 1e3 / n, "s"),
      Metric("spark.task_run_s", taskRunMs.get / 1e3 / n, "s"),
      Metric("spark.task_overhead_s", taskOverheadMs.get / 1e3 / n, "s"),
      Metric("spark.scan_mb", scanBytes.get / mb / n, "MB"),
      Metric("spark.shuffle_mb", shuffleBytes.get / mb / n, "MB"),
      Metric("spark.spill_mb", spillBytes.get / mb / n, "MB"))
  }
}

object SparkLayers {
  val ReqKey = "perfbench.req"
}

/** JVM-wide costs: collector time, and the live heap after a full GC. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def liveHeapMb: Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1024.0 / 1024.0
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + graft.functions.AgentText.escapeJson(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
